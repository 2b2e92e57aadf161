"""Corpus spec invariants + oracle-SQL parity.

The corpus generator (corpus.py), the pure-python golden expectation
(expected_spans) and the DuckDB oracle (oracle.py) must agree exactly —
they are three independent derivations of the same deterministic spec.
"""

import duckdb

from docling_fast_server_spark.corpus import (
    expected_spans,
    is_degraded,
    is_pdf_doc,
    logical_items,
    render_html,
    render_pdf_cells,
)
from docling_fast_server_spark.model import doc_id_str
from docling_fast_server_spark.oracle import expected_spans_sql


def test_logical_items_shape():
    items = logical_items(0, " ".join(f"w{i}" for i in range(25)))
    kinds = [k for k, _, _ in items]
    # 3 paragraphs -> headers at i=0 (and i=3 absent), picture at (0+0)%7==0
    assert kinds[0] == "section_header"
    assert kinds.count("text") == 3
    assert "picture" in kinds  # (0+0) % 7 == 0
    header = items[0][1]
    assert header == "W0 W1 W2 W3"


def test_expected_spans_offsets_contiguous(documents_pdf):
    for doc_id, text in documents_pdf[:50]:
        spans = expected_spans(doc_id, text)
        assert [s["offset"] for s in spans] == list(range(len(spans)))
        assert len(spans) > 0


def test_degraded_docs_lose_media(documents_pdf):
    hit = False
    for doc_id, text in documents_pdf:
        if is_degraded(doc_id):
            hit = True
            kinds = {s["kind"] for s in expected_spans(doc_id, text)}
            assert "picture" not in kinds and "table" not in kinds
    assert hit, "no degraded doc in fixture range"


def test_pdf_cells_are_shuffled_but_complete(documents_pdf):
    doc_id, text = next((d, t) for d, t in documents_pdf if is_pdf_doc(d) and not is_degraded(d))
    cells = render_pdf_cells(doc_id, text)
    assert [c["offset"] for c in cells] == list(range(len(cells)))
    n_items = len(logical_items(doc_id, text))
    assert len(cells) == n_items


def test_html_contains_main_and_boilerplate(documents_pdf):
    doc_id, text = next((d, t) for d, t in documents_pdf if not is_pdf_doc(d))
    html = render_html(doc_id, text)
    for tag in ("<nav", "<footer", "<aside", "<main>"):
        assert tag in html


def test_oracle_sql_matches_python_expectation(sf_dir, documents_pdf):
    """The DuckDB oracle and the pure-python golden spec must be identical
    on every document — this is what makes the driver's correctness gate
    meaningful."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    got = con.execute(
        expected_spans_sql("all") + ' ORDER BY doc_id, "offset"'
    ).fetchall()
    con.close()
    want = []
    for doc_id, text in documents_pdf:
        for s in expected_spans(doc_id, text):
            want.append(
                (doc_id_str(doc_id), s["kind"], s["text"], s["media_ref"], s["offset"])
            )
    want.sort(key=lambda r: (r[0], r[4]))
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == w, f"oracle mismatch: {g} != {w}"


def test_arrow_datagen_matches_pandas(spark, sf_dir, documents_pdf):
    """The flat-column Arrow datagen (docs_raw) must produce, for every
    document, exactly the pure-Python spec: render_raw_spans of its
    text, with n_chars its length, unskewed and skewed. The skew rule is
    written out here, independently of the library's copy."""
    from docling_fast_server_spark.corpus import docs_raw, render_raw_spans

    def skew_rule(doc_id, text):
        if doc_id % 50 == 0:
            return " ".join([text] * 30)
        if doc_id % 10 == 0:
            return " ".join([text] * 5)
        return text

    for skew in (False, True):
        got = sorted(
            (r.doc_id, tuple(map(tuple, r.spans)), r.n_chars)
            for r in docs_raw(spark, sf_dir, skew=skew).collect()
        )
        want = []
        for doc_id, text in documents_pdf:
            if skew:
                text = skew_rule(doc_id, text)
            spans = tuple(
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in render_raw_spans(doc_id, text)
            )
            want.append((doc_id_str(doc_id), spans, len(text)))
        assert got == sorted(want) and len(got) == 500
    assert any(doc_id % 50 == 0 for doc_id, _ in documents_pdf)
