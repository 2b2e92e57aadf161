"""Markdown ingest round-trip: export_markdown -> extract_markdown
recovers every span except table media_refs (not representable in md)."""

from pyspark.sql import functions as F

from docling_fast_server_spark.corpus import docs_raw, expected_spans
from docling_fast_server_spark.operators.dispatch import extract_auto
from docling_fast_server_spark.operators.exports import with_exports
from docling_fast_server_spark.operators.md_ingest import (
    extract_markdown,
    extract_markdown_document,
)


def test_pure_roundtrip(documents_pdf):
    from docling_fast_server_spark.operators.exports import SPEC, render_doc_py

    # the hand renderer below covers exactly the kinds the spec templates
    assert set(SPEC["markdown"].kinds) == {
        "section_header", "text", "key_value_area", "code", "formula", "table", "picture"
    }

    # Python-level: expected spans -> canonical md string -> parse back
    def render_md_py(spans):
        out = []
        for s in spans:
            k, t, m = s["kind"], s["text"], s["media_ref"]
            out.append(
                {
                    "section_header": lambda: "## " + t,
                    "text": lambda: t,
                    "key_value_area": lambda: "- " + t,
                    "code": lambda: "```\n" + t + "\n```",
                    "formula": lambda: "$$ " + t + " $$",
                    "table": lambda: "| " + t + " |",
                    "picture": lambda: f"![image]({m})",
                }[k]()
            )
        return "\n\n".join(out)

    checked = 0
    for did, text in documents_pdf[:60]:
        exp = expected_spans(int(did), text)
        if not exp:
            continue
        md = render_md_py(exp)
        cols = [[s[f] for s in exp] for f in ("kind", "text", "media_ref", "offset")]
        assert render_doc_py("markdown", *cols) == md, did
        got = extract_markdown_document(md)
        want = [
            {**s, "media_ref": None if s["kind"] == "table" else s["media_ref"]}
            for s in exp
        ]
        assert got == want, (did, got[:3], want[:3])
        checked += 1
    assert checked > 10


def test_spark_roundtrip_via_exports(spark, sf_dir):
    extracted = extract_auto(docs_raw(spark, sf_dir, which="all"))
    md = with_exports(extracted).select("doc_id", "markdown")
    back = extract_markdown(md)
    a = (
        extracted.select("doc_id", F.explode("spans").alias("s"))
        .select(
            "doc_id",
            "s.kind",
            "s.text",
            # md cannot carry table refs — null them on the expected side
            F.when(F.col("s.kind") == "table", F.lit(None).cast("string"))
            .otherwise(F.col("s.media_ref"))
            .alias("media_ref"),
            "s.offset",
        )
    )
    b = back.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert back.filter("conversion_method != 'default'").count() == 0


def test_degrade_and_edge_blocks():
    assert extract_markdown_document("") == []
    # unknown / plain blocks become text; blank runs collapse
    got = extract_markdown_document("hello world\n\n\n\n## H")
    assert [(s["kind"], s["text"]) for s in got] == [
        ("text", "hello world"),
        ("section_header", "H"),
    ]


def test_doctags_spark_roundtrip(spark, sf_dir):
    """DocTags round-trip recovers picture refs exactly (body IS the
    ref); only table refs are lossy. The round-4 entity escaping is what
    makes this sound — decorated spans contain raw < and &."""
    from docling_fast_server_spark.operators.md_ingest import extract_doctags

    extracted = extract_auto(docs_raw(spark, sf_dir, which="all"))
    dt = with_exports(extracted).select("doc_id", "doctags")
    back = extract_doctags(dt)
    a = extracted.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        "s.kind",
        "s.text",
        F.when(F.col("s.kind") == "table", F.lit(None).cast("string"))
        .otherwise(F.col("s.media_ref"))
        .alias("media_ref"),
        "s.offset",
    )
    b = back.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert back.filter("conversion_method != 'default'").count() == 0


def test_doctags_unescape_inverse():
    from docling_fast_server_spark.operators.md_ingest import (
        extract_doctags_document,
    )

    # text that itself contains entity-looking sequences must round-trip:
    # escape("&lt;") = "&amp;lt;" and the reader inverts it exactly
    doc = "<text>a &amp;lt; b &lt;tag&gt; &amp; c</text>"
    (s,) = extract_doctags_document(doc)
    assert s["text"] == "a &lt; b <tag> & c"

    import pytest

    with pytest.raises(ValueError, match="malformed"):
        extract_doctags_document("<text>unclosed")


def test_json_spark_roundtrip_lossless(spark, sf_dir):
    """The JSON serialization carries every field, so this round-trip is
    EXACT — including table media_refs that md/doctags lose."""
    from docling_fast_server_spark.operators.md_ingest import extract_json

    extracted = extract_auto(docs_raw(spark, sf_dir, which="all"))
    dj = with_exports(extracted).select("doc_id", "doc_json")
    back = extract_json(dj)
    a = extracted.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )
    b = back.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert back.filter("conversion_method != 'default'").count() == 0


def test_dispatch_routes_serialization_formats(spark, sf_dir):
    """A mixed corpus where re-serialized docs carry raw kind
    markdown/doctags/json_doc extracts through the SAME extract_auto
    dispatch (and the DFSB binary path) as html/pdf docs."""
    from docling_fast_server_spark.sources.binary_pack import extract_binary, pack_raw

    extracted = extract_auto(docs_raw(spark, sf_dir, which="all")).limit(30)
    exp = with_exports(extracted)
    raw_again = exp.select(
        "doc_id",
        F.array(
            F.struct(
                F.when(F.col("doc_id").substr(-1, 1).isin("0", "1", "2", "3") , F.lit("markdown"))
                .when(F.col("doc_id").substr(-1, 1).isin("4", "5", "6"), F.lit("doctags"))
                .otherwise(F.lit("json_doc"))
                .alias("kind"),
                F.when(F.col("doc_id").substr(-1, 1).isin("0", "1", "2", "3"), F.col("markdown"))
                .when(F.col("doc_id").substr(-1, 1).isin("4", "5", "6"), F.col("doctags"))
                .otherwise(F.col("doc_json"))
                .alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )

    def flat(df):
        return df.select("doc_id", F.explode("spans").alias("s")).select(
            "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
        )

    # expected: the original extraction, with table refs nulled for the
    # lossy formats (markdown + doctags docs) and exact for json docs
    lossy = F.col("doc_id").substr(-1, 1).isin("0", "1", "2", "3", "4", "5", "6")
    want = extracted.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        "s.kind",
        "s.text",
        F.when((F.col("s.kind") == "table") & lossy, F.lit(None).cast("string"))
        .otherwise(F.col("s.media_ref"))
        .alias("media_ref"),
        "s.offset",
    )
    for back in (extract_auto(raw_again), extract_binary(pack_raw(raw_again))):
        assert back.filter("conversion_method != 'default'").count() == 0
        got = flat(back)
        assert want.exceptAll(got).count() == 0
        assert got.exceptAll(want).count() == 0


def test_json_type_violations_degrade_per_doc(spark):
    """A span with a non-string text or an out-of-int32 offset must fail
    THAT document (conversion_method=failed), never the Arrow batch —
    pa.array(..., string/int32) would otherwise raise outside every
    per-doc try and kill the task."""
    from docling_fast_server_spark.operators.md_ingest import extract_json

    rows = [
        ("d-ok", '[{"kind":"text","text":"fine","media_ref":null,"offset":0}]'),
        ("d-badtext", '[{"kind":"text","text":123,"media_ref":null,"offset":0}]'),
        ("d-badoff", '[{"kind":"text","text":"x","media_ref":null,"offset":1099511627776}]'),
        ("d-badkind", '[{"kind":7,"text":"x","media_ref":null,"offset":0}]'),
        ("d-empty-payload", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, doc_json string")
    out = {r["doc_id"]: r for r in extract_json(df).collect()}
    assert out["d-ok"]["conversion_method"] == "default"
    assert [s["text"] for s in out["d-ok"]["spans"]] == ["fine"]
    for bad in ("d-badtext", "d-badoff", "d-badkind", "d-empty-payload"):
        assert out[bad]["conversion_method"] == "failed", bad
        assert out[bad]["spans"] == []

    # the dispatch path degrades the same doc identically (per-doc
    # truncation keeps neighbors intact)
    from docling_fast_server_spark.operators.dispatch import extract_auto

    raw = spark.createDataFrame(
        [
            (d, [{"kind": "json_doc", "text": j, "media_ref": None, "offset": 0}])
            for d, j in rows
            if j is not None
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out2 = {r["doc_id"]: r for r in extract_auto(raw).collect()}
    assert out2["d-ok"]["conversion_method"] == "default"
    assert all(out2[b]["conversion_method"] == "failed" for b in ("d-badtext", "d-badoff", "d-badkind"))


# ---------------------------------------------------------------------------
# round-5: json dup-offset rejection + documented markdown grammar collisions
# ---------------------------------------------------------------------------
def test_json_duplicate_offsets_degrade_one_document():
    """A JSON upload with duplicate span offsets violates the chunker's
    per-doc offset-uniqueness contract and must degrade to failed
    (ADVICE r04), never flow through with nondeterministic ordering."""
    import json

    import pytest

    from docling_fast_server_spark.operators.md_ingest import extract_json_document

    dup = json.dumps(
        [
            {"kind": "text", "text": "a", "media_ref": None, "offset": 0},
            {"kind": "text", "text": "b", "media_ref": None, "offset": 0},
        ]
    )
    with pytest.raises(ValueError, match="duplicate span offsets"):
        extract_json_document(dup)
    ok = json.dumps(
        [
            {"kind": "text", "text": "a", "media_ref": None, "offset": 0},
            {"kind": "text", "text": "b", "media_ref": None, "offset": 1},
        ]
    )
    assert len(extract_json_document(ok)) == 2


def test_markdown_grammar_collisions_are_the_documented_lossiness():
    """Pins the two ambiguities the markdown lossiness contract names
    (module docstring): kernel-unreachable spans whose text collides
    with the block grammar do NOT round-trip — and that is documented
    behavior, not a silent surprise."""
    from docling_fast_server_spark.operators.md_ingest import extract_markdown_document

    # empty code text: "```\n\n```" splits at the blank line into two
    # bare "```" text spans
    spans = extract_markdown_document("```\n\n```")
    assert [(s["kind"], s["text"]) for s in spans] == [("text", "```"), ("text", "```")]

    # marker-prefixed text span re-ingests as the marker's kind
    spans = extract_markdown_document("## not a real heading")
    assert spans[0]["kind"] == "section_header"


# ---------------------------------------------------------------------------
# html-export reader: the 4th round-trip format (round-4 verdict item 3).
# EXACT — unlike markdown/doctags, html keeps table media_refs (data-ref).
# ---------------------------------------------------------------------------
def test_html_export_spark_roundtrip_exact(spark, sf_dir):
    from docling_fast_server_spark.operators.md_ingest import extract_html_export

    extracted = extract_auto(docs_raw(spark, sf_dir, which="all"))
    html = with_exports(extracted).select("doc_id", "html")
    back = extract_html_export(html)

    def flat(df):
        return df.select("doc_id", F.explode("spans").alias("s")).select(
            "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
        )

    a, b = flat(extracted), flat(back)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0  # exact: table refs included
    assert back.filter("conversion_method != 'default'").count() == 0


def test_html_export_reader_edges():
    from docling_fast_server_spark.operators.md_ingest import (
        extract_html_export_document,
    )

    assert extract_html_export_document("") == []
    spans = extract_html_export_document(
        '<h2>A &amp;&lt;B</h2>\n<table data-ref="m?a=1&amp;b=&quot;2&quot;">c1 | c2</table>'
    )
    assert spans[0] == {
        "kind": "section_header", "text": "A &<B", "media_ref": None, "offset": 0,
    }
    assert spans[1]["media_ref"] == 'm?a=1&b="2"'
    import pytest

    with pytest.raises(ValueError, match="malformed canonical-html"):
        extract_html_export_document("<h3>not canonical</h3>")


def test_read_export_spans_html(spark, sf_dir, tmp_path):
    """read_export_spans over the html partition re-hydrates documents
    exactly — all four partitions of the export store now re-enter."""
    from docling_fast_server_spark.operators.exports import (
        read_export_spans,
        write_exports_partitioned,
    )

    extracted = extract_auto(docs_raw(spark, sf_dir, which="all")).limit(20)
    store = str(tmp_path / "exports")
    write_exports_partitioned(extracted, store)
    back = read_export_spans(spark, store, "html")

    def flat(df):
        return df.select("doc_id", F.explode("spans").alias("s")).select(
            "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
        )

    a, b = flat(extracted), flat(back)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_dispatch_routes_html_doc(spark, sf_dir):
    """Raw kind html_doc routes through extract_auto and the DFSB
    container like the other serialization formats — exact recovery."""
    from docling_fast_server_spark.sources.binary_pack import extract_binary, pack_raw

    extracted = extract_auto(docs_raw(spark, sf_dir, which="all")).limit(25)
    raw_again = with_exports(extracted).select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("html_doc").alias("kind"),
                F.col("html").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )

    def flat(df):
        return df.select("doc_id", F.explode("spans").alias("s")).select(
            "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
        )

    want = flat(extracted)
    for back in (extract_auto(raw_again), extract_binary(pack_raw(raw_again))):
        assert back.filter("conversion_method != 'default'").count() == 0
        got = flat(back)
        assert want.exceptAll(got).count() == 0
        assert got.exceptAll(want).count() == 0


def test_serialization_fixpoint_all_formats(spark, sf_dir):
    """Export -> re-ingest -> re-export is the IDENTITY on serialized
    bytes for every format (markdown/doctags/json/html): the readers and
    writers are exact mutual inverses on canonical output, so a document
    can cycle through the export store any number of times without
    drift. (Markdown's table-ref loss happens on the FIRST export — the
    serialized string itself is already stable from then on.)"""
    from docling_fast_server_spark.operators.md_ingest import (
        extract_doctags,
        extract_html_export,
        extract_json,
        extract_markdown,
    )

    extracted = extract_auto(docs_raw(spark, sf_dir, which="all")).limit(30)
    exp1 = with_exports(extracted)
    readers = {
        "markdown": extract_markdown,
        "doctags": extract_doctags,
        "doc_json": extract_json,
        "html": extract_html_export,
    }
    for col, reader in readers.items():
        back = reader(exp1.select("doc_id", col))
        assert back.filter("conversion_method != 'default'").count() == 0, col
        exp2 = with_exports(back).select("doc_id", F.col(col).alias("again"))
        diff = (
            exp1.select("doc_id", col)
            .join(exp2, "doc_id")
            .filter(F.col(col) != F.col("again"))
            .count()
        )
        assert diff == 0, f"{col}: serialization not a fixpoint"


# ---------------------------------------------------------------------------
# ref-less picture spans (ADVICE r05): a <figure> with no <img src> is
# kernel-emittable as (picture, None, None) — exports must render it (not
# null-propagate it away, which shifted all later offsets on re-ingest)
# and every reader must map the empty ref back to None.
# ---------------------------------------------------------------------------
def test_refless_picture_roundtrips_all_formats(spark):
    from docling_fast_server_spark.model import DOCS_EXTRACTED_SCHEMA
    from docling_fast_server_spark.operators.md_ingest import (
        extract_doctags,
        extract_html_export,
        extract_markdown,
    )

    spans = [
        {"kind": "text", "text": "before", "media_ref": None, "offset": 0},
        {"kind": "picture", "text": None, "media_ref": None, "offset": 1},
        {"kind": "table", "text": "c1 | c2", "media_ref": None, "offset": 2},
        {"kind": "text", "text": "after", "media_ref": None, "offset": 3},
    ]
    df = spark.createDataFrame(
        [("d1", spans, "default", None)], DOCS_EXTRACTED_SCHEMA
    )
    exp = with_exports(df)
    row = exp.collect()[0]
    # the ref-less spans render instead of vanishing
    assert "![image]()" in row.markdown
    assert '<img src=""/>' in row.html
    assert '<table data-ref="">' in row.html

    def spans_of(reader, col):
        out = reader(exp.select("doc_id", F.col(col))).collect()[0]
        assert out.conversion_method == "default", out.error
        return [
            (s.kind, s.text, s.media_ref, s.offset) for s in out.spans
        ]

    want = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
    # html is the exact serialization (keeps table refs)
    assert spans_of(extract_html_export, "html") == want
    # markdown/doctags: table media_ref is lossy-to-None anyway and these
    # spans carry None — so the round-trip is exact here too, offsets
    # included (the pre-fix behavior dropped the picture and shifted
    # offsets 2 and 3)
    assert spans_of(extract_markdown, "markdown") == want
    assert spans_of(extract_doctags, "doctags") == want
