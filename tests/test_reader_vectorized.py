"""Serialization readers in the dispatch kernel.

extract_markdown / extract_doctags / extract_json / extract_html_export
run each payload as a one-span raw document through
dispatch.extract_auto. The per-document readers (extract_*_document) are
the one definition of each grammar, so a reader's Spark rows must equal
the driver-side result of its per-document reader: the spans of
``reader(payload or "")``, or ``(failed, str(e)[:500])`` when it raises.
The batches mix canonical, edge, malformed, over-ceiling and NULL
payloads, so the degrade rows (which doc fails, with exactly which error
string) are checked too.
"""

import json

import pytest

from docling_fast_server_spark.model import MAX_SPANS_PER_DOC, METHOD_DEFAULT, METHOD_FAILED
from docling_fast_server_spark.operators import md_ingest as mi

# ---------------------------------------------------------------------------
# corpora
# ---------------------------------------------------------------------------

MD_DOCS = [
    "## Head\n\nplain text\n\n- kv: v\n\n```\ncode body\n```\n\n"
    "$$ x=y $$\n\n| c1 c2 |\n\n![image](m1)\n\n![image]()",
    "",  # valid empty document
    "\n\nonly text\n\n",  # stray separators
    "```\n\n```",  # grammar-colliding export of an empty code span
    "## a\n\n## b",
    "![image](ref with space)",
    "&amp; markdown does not unescape",
]

DT_DOCS = [
    "<section_header>Head</section_header>\n<text>a &amp; b &lt;x&gt;</text>\n"
    "<picture>m1</picture>\n<picture></picture>\n<table>c1 c2</table>",
    "",
    "<text>x</text>\n\n<text>y</text>",  # blank lines skipped
    "<text>a</text><text>b</text>",  # greedy body: ONE span
]

HTML_DOCS = [
    '<h2>Head</h2>\n<p>a &amp; b</p>\n<dl><dt>k</dt><dd>v</dd></dl>\n'
    '<pre><code>c</code></pre>\n<div class="math">x=y</div>\n'
    '<table data-ref="t&quot;1">cell</table>\n<table data-ref="">cell2</table>\n'
    '<img src="m1"/>\n<img src=""/>',
    "",
]


def _json_span(i, kind="text", text="t", ref=None):
    return {"kind": kind, "text": text, "media_ref": ref, "offset": i}


JSON_DOCS = [
    json.dumps(
        [
            _json_span(0, "section_header", "Head"),
            _json_span(1, "text", 'a "q" \\ <b> & c'),
            _json_span(2, "table", "c1 c2", "t1"),
            _json_span(3, "picture", None, "m1"),
        ]
    ),
    "[]",  # valid empty document
    json.dumps([_json_span(7), _json_span(2)]),  # offsets need not be dense
]

CASES = [
    (MD_DOCS, mi.extract_markdown_document, mi.extract_markdown, "markdown"),
    (DT_DOCS, mi.extract_doctags_document, mi.extract_doctags, "doctags"),
    (HTML_DOCS, mi.extract_html_export_document, mi.extract_html_export, "html"),
    (JSON_DOCS, mi.extract_json_document, mi.extract_json, "json"),
]
IDS = [c[-1] for c in CASES]

MALFORMED = {
    "markdown": None,  # every md block classifies; only the ceiling fails
    "doctags": "<text>x</text>\nbroken line",
    "html": "<h2>ok</h2>\n<badline>",
    "json": json.dumps([_json_span(0, text=123)]),
}


def _over_ceiling(name: str) -> str:
    n = MAX_SPANS_PER_DOC + 1
    if name == "json":
        return json.dumps([_json_span(i) for i in range(n)])
    sep = "\n\n" if name == "markdown" else "\n"
    unit = {"markdown": "t", "doctags": "<text>t</text>", "html": "<p>t</p>"}[name]
    return sep.join([unit] * n)


@pytest.mark.parametrize("docs,perdoc,_op,name", CASES, ids=IDS)
def test_ceiling_declines_to_perdoc(docs, perdoc, _op, name):
    with pytest.raises(ValueError, match="span ceiling"):
        perdoc(_over_ceiling(name))


# ---------------------------------------------------------------------------
# Spark level — the entry point's rows == the per-document reader's result,
# including the degrade rows of a mixed good+malformed+oversize batch.
# ---------------------------------------------------------------------------


def _spans(spans) -> tuple:
    return tuple((s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans)


def _driver_row(doc_id, payload, reader):
    try:
        return (doc_id, _spans(reader(payload or "")), METHOD_DEFAULT, None)
    except Exception as e:
        return (doc_id, (), METHOD_FAILED, str(e)[:500])


@pytest.mark.parametrize("docs,perdoc,op,name", CASES, ids=IDS)
def test_spark_rows_match_perdoc_kernel(spark, docs, perdoc, op, name):
    corpus = list(docs) + [_over_ceiling(name)]
    if MALFORMED[name]:
        corpus.append(MALFORMED[name])
    data = [(f"d{i:03d}", p) for i, p in enumerate(corpus)] + [("dnull", None)]
    df = spark.createDataFrame(data, "doc_id string, payload string")

    got = sorted(
        (r["doc_id"], _spans(r["spans"]), r["conversion_method"], r["error"])
        for r in op(df, "payload").collect()
    )
    assert got == sorted(_driver_row(d, p, perdoc) for d, p in data)
    # the degrade rows really exist: the oversize doc always fails, and
    # doctags/html/json add the malformed doc
    failed = {r[0]: r[3] for r in got if r[2] == METHOD_FAILED}
    failed.pop("dnull", None)
    assert len(failed) == (2 if MALFORMED[name] else 1)
    assert "span ceiling" in failed[f"d{len(docs):03d}"]
    # a NULL payload is a valid empty doc, except for json, where the
    # empty payload is malformed (json.loads("") raises)
    (null_row,) = [r for r in got if r[0] == "dnull"]
    assert null_row[1] == ()
    assert (null_row[2] == METHOD_FAILED) == (name == "json")
