"""HybridChunker fidelity contracts (pdf_processor.py:44-69): heading
context propagation, oversize-span splitting, whole-doc fallback."""

import pytest
from pyspark.sql import functions as F

from docling_fast_server_spark.operators.chunking import chunk_spans


_SPANS_DDL = "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def _spans(items, offsets=None):
    """(kind, text, media_ref) triples -> span dicts, at `offsets` (default
    the dense index)."""
    offsets = range(len(items)) if offsets is None else offsets
    return [{"kind": k, "text": t, "media_ref": m, "offset": o} for (k, t, m), o in zip(items, offsets)]


def _doc(spark, doc_id, spans):
    return spark.createDataFrame([(doc_id, _spans(spans))], _SPANS_DDL)


def test_heading_context_propagates(spark):
    df = _doc(
        spark,
        "d1",
        [
            ("section_header", "INTRO", None),
            ("text", "one two three", None),
            ("section_header", "METHODS", None),
            ("text", "four five six", None),
        ],
    )
    chunks = {r["chunk_idx"]: r for r in chunk_spans(df, budget=5).collect()}
    # chunk 0 starts under INTRO; the chunk crossing METHODS starts there
    assert chunks[0]["heading"] == "INTRO"
    assert any(r["heading"] == "METHODS" for r in chunks.values())


def test_oversize_span_splits(spark):
    long_text = " ".join(f"w{i}" for i in range(23))
    df = _doc(spark, "d1", [("text", long_text, None)])
    rows = sorted(chunk_spans(df, budget=8).collect(), key=lambda r: r["chunk_idx"])
    # 23 tokens / budget 8 -> chunks of 8, 8, 7
    assert [r["n_tokens"] for r in rows] == [8, 8, 7]
    assert " ".join(r["chunk_text"] for r in rows) == long_text
    # all three chunks reference the single source span
    assert all(r["n_spans"] == 1 for r in rows)


def test_whole_doc_fallback_on_empty_spans(spark):
    df = _doc(spark, "failed-doc", [])
    rows = chunk_spans(df, budget=8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_id"], r["chunk_idx"], r["heading"], r["chunk_text"]) == (
        "failed-doc", 0, "", "",
    )
    assert (r["n_tokens"], r["n_spans"]) == (0, 0)


def test_media_spans_kept_but_textless(spark):
    df = _doc(
        spark,
        "d1",
        [
            ("text", "a b", None),
            ("picture", None, "media://1/img/0"),
            ("text", "c d", None),
        ],
    )
    rows = chunk_spans(df, budget=40).collect()
    assert len(rows) == 1
    assert rows[0]["chunk_text"] == "a b c d"
    assert rows[0]["n_spans"] == 3
    assert rows[0]["n_tokens"] == 4


def test_offsets_unique_per_doc(spark, sf_dir):
    """Extraction-boundary contract the chunker's piece order depends on:
    span offsets are unique within a document (they are the dense span
    index by construction; a duplicate would make chunk piece order
    depend on input order and undercount n_spans)."""
    from pyspark.sql import functions as F

    from docling_fast_server_spark.queries import extract_all

    ex = extract_all(spark, sf_dir).select("doc_id", F.explode("spans").alias("s"))
    dup = (
        ex.groupBy("doc_id", F.col("s.offset").alias("offset"))
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def _model_chunks(spans, B, tokenizer="ws"):
    """Independent Python model of the chunker contract (the row-window
    formulation the oracle uses): running heading, piece explosion with
    actual cumulative token counts, floor(cum/B) chunk assignment. A
    piece of no tokens (a BPE-tokenized empty text) joins to NULL, as
    DuckDB's array_to_string of an empty list does."""
    import re

    def toks(t):
        if tokenizer == "ws":
            return t.split(" ")
        return re.findall(r"[A-Za-z0-9]+|[^A-Za-z0-9 ]", t)

    spans = sorted(spans, key=lambda s: s["offset"])
    heading, cum, pieces = "", 0, []
    for s in spans:
        if s["kind"] == "section_header" and s["text"] is not None:
            heading = s["text"]
        tk = [] if s["text"] is None else toks(s["text"])
        n = 0 if s["text"] is None else len(tk)
        for p in range(max(-(-n // B), 1)):
            ptk = tk[p * B : (p + 1) * B]
            ptext = None if s["text"] is None or not ptk else " ".join(ptk)
            ptok = 0 if s["text"] is None else min(B, n - p * B)
            pieces.append((cum // B, heading, s["offset"], ptext, ptok))
            cum += ptok
    if not pieces:
        return [(0, "", "", 0, 0)]
    chunks = {}
    for ci, h, off, ptext, ptok in pieces:
        chunks.setdefault(ci, []).append((h, off, ptext, ptok))
    return [
        (
            ci,
            mem[0][0],
            " ".join(t for _, _, t, _ in mem if t is not None),
            sum(pt for _, _, _, pt in mem),
            len({o for _, o, _, _ in mem}),
        )
        for ci, mem in sorted(chunks.items())
    ]


def test_chunker_matches_model_on_arbitrary_spans(spark):
    """The within-array HOF chunker vs an independent Python model on
    adversarial span soups: empty docs, media-only docs, empty-string
    texts, budget-boundary totals, shuffled offsets, headers anywhere."""
    import random

    from pyspark.sql import types as T

    from docling_fast_server_spark.operators.chunking import chunk_spans

    rng = random.Random(20260816)
    words = ["aa", "b", "ccc", "dd", ""]
    docs = []
    for doc_i in range(40):
        n_spans = rng.randrange(0, 9)
        offsets = rng.sample(range(100), n_spans)
        spans = []
        for off in offsets:
            kind = rng.choice(["text", "text", "section_header", "picture"])
            if kind == "picture":
                spans.append({"kind": kind, "text": None, "media_ref": f"m{off}", "offset": off})
            else:
                txt = " ".join(rng.choice(words) for _ in range(rng.randrange(0, 12)))
                spans.append({"kind": kind, "text": txt, "media_ref": None, "offset": off})
        docs.append((f"d{doc_i}", spans))

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField(
                "spans",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("kind", T.StringType()),
                            T.StructField("text", T.StringType()),
                            T.StructField("media_ref", T.StringType()),
                            T.StructField("offset", T.IntegerType()),
                        ]
                    )
                ),
            ),
        ]
    )
    df = spark.createDataFrame(docs, schema)
    for B, tokenizer in ((3, "ws"), (5, "bpe")):
        got = {}
        for r in chunk_spans(df, budget=B, tokenizer=tokenizer).collect():
            got.setdefault(r["doc_id"], []).append(
                (r["chunk_idx"], r["heading"], r["chunk_text"], r["n_tokens"], r["n_spans"])
            )
        for doc_id, spans in docs:
            want = _model_chunks(spans, B, tokenizer)
            assert sorted(got.get(doc_id, [])) == sorted(want), (
                tokenizer,
                doc_id,
                spans,
                sorted(got.get(doc_id, [])),
                sorted(want),
            )


# ---------------------------------------------------------------------------
# the kernel against the DuckDB chunk oracle (queries._oracle_chunks, the
# row-window formulation of the same contract) plus the whole-doc fallback
# row, which the oracle does not emit
# ---------------------------------------------------------------------------
def _tok_sql(tokenizer):
    from docling_fast_server_spark.operators.textstats import BPE_RE

    return "string_split(text, ' ')" if tokenizer == "ws" else f"regexp_extract_all(text, '{BPE_RE}')"


def _oracle_rows(monkeypatch, docs, budget, tokenizer):
    """The oracle's chunk rows for `docs` ((doc_id, span dicts or None)
    pairs), with one fallback row per document of empty or NULL spans,
    sorted."""
    import duckdb

    from docling_fast_server_spark import queries

    con = duckdb.connect()
    con.execute(
        'CREATE TABLE spans_in (doc_id VARCHAR, kind VARCHAR, text VARCHAR, media_ref VARCHAR, "offset" INTEGER)'
    )
    rows = [(d, s["kind"], s["text"], s["media_ref"], s["offset"]) for d, spans in docs for s in spans or []]
    if rows:
        con.executemany("INSERT INTO spans_in VALUES (?, ?, ?, ?, ?)", rows)
    monkeypatch.setattr(
        queries, "expected_spans_sql", lambda which: 'SELECT doc_id, kind, text, media_ref, "offset" FROM spans_in'
    )
    got = con.execute(queries._oracle_chunks(budget, _tok_sql(tokenizer))).fetchall()
    con.close()
    return sorted(got + [(d, 0, "", "", 0, 0) for d, spans in docs if not spans])


def _assert_matches_oracle(spark, monkeypatch, docs, route="auto"):
    """chunk_spans over `docs` equals the oracle at budgets 3, 5 and 8
    with both tokenizers."""
    df = spark.createDataFrame(docs, _SPANS_DDL)
    for tokenizer in ("ws", "bpe"):
        for budget in (3, 5, 8):
            got = sorted(map(tuple, chunk_spans(df, budget=budget, tokenizer=tokenizer, route=route).collect()))
            want = _oracle_rows(monkeypatch, docs, budget, tokenizer)
            assert got == want, (budget, tokenizer, got, want)


_MIXED_DOCS = [
    ("d-empty", []),
    ("d-media", [("picture", None, "media://1/img/0")]),
    (
        "d-small",
        [
            ("section_header", "HEAD ONE", None),
            ("text", "a b c d e f g", None),
            ("picture", None, "media://2/img/1"),
        ],
    ),
    (
        "d-long",
        [
            ("text", " ".join(f"w{i}" for i in range(23)), None),
            ("section_header", "LATE HEAD", None),
            ("text", "x y z", None),
            ("table", "c1 | c2 | c3", "media://3/tbl/2"),
            ("text", " ".join(f"v{i}" for i in range(11)), None),
        ],
    ),
]




def _mixed_docs():
    return [(d, _spans(items)) for d, items in _MIXED_DOCS]


def test_mixed_docs_match_oracle(spark, monkeypatch):
    _assert_matches_oracle(spark, monkeypatch, _mixed_docs())


def test_auto_route_equals_hof_across_the_ceiling(spark, monkeypatch):
    """route 'auto' and 'hof' run the one kernel (callers pass either), on
    documents below and above model.MAX_SPANS_PER_DOC alike: both equal
    the oracle. Any other route, and an unknown tokenizer, fail at the
    call."""
    from docling_fast_server_spark.model import MAX_SPANS_PER_DOC

    over = [
        ("section_header", f"H{i}", None) if i % 900 == 0 else ("text", f"w{i} x{i} y", None)
        for i in range(MAX_SPANS_PER_DOC + 1)
    ]
    docs = _mixed_docs() + [("d-over-ceiling", _spans(over))]
    for route in ("auto", "hof"):
        _assert_matches_oracle(spark, monkeypatch, docs, route=route)
    df = spark.createDataFrame(_mixed_docs(), _SPANS_DDL)
    with pytest.raises(ValueError, match="route"):
        chunk_spans(df, route="window")
    with pytest.raises(ValueError, match="tokenizer"):
        chunk_spans(df, tokenizer="sentencepiece")


def test_big_doc_matches_model(spark):
    """A 10^5-span document — five times the extraction ceiling, as a
    stored table may hold — chunks in one linear pass, exactly as the
    Python model does."""
    n = 100_000
    spans = []
    for i in range(n):
        if i % 500 == 0:
            spans.append({"kind": "section_header", "text": f"H{i}", "media_ref": None, "offset": i})
        elif i % 97 == 13:
            spans.append({"kind": "picture", "text": None, "media_ref": f"media://9/img/{i}", "offset": i})
        else:
            spans.append({"kind": "text", "text": f"a{i} b{i} c{i}", "media_ref": None, "offset": i})
    df = spark.createDataFrame([("d-big", spans)], _SPANS_DDL)
    got = sorted(tuple(r)[1:] for r in chunk_spans(df, budget=40).collect())
    assert got == _model_chunks(spans, 40)


def test_extraction_boundary_enforces_span_ceiling():
    """Kernels degrade a doc beyond MAX_SPANS_PER_DOC to failed (pure
    Python check — no Spark)."""
    import json

    import pytest

    from docling_fast_server_spark.model import MAX_SPANS_PER_DOC
    from docling_fast_server_spark.operators.html_extract import extract_html_document
    from docling_fast_server_spark.operators.pdf_layout import extract_pdf_cells_flat

    html = "<html><body>" + "<p>word</p>" * (MAX_SPANS_PER_DOC + 1) + "</body></html>"
    with pytest.raises(ValueError, match="span ceiling"):
        extract_html_document("doc-000000", html)

    m = MAX_SPANS_PER_DOC + 1
    prov = json.dumps({"p": 1, "l": 72.0, "t": 700.0, "r": 292.0, "b": 684.0, "fs": 11.0, "text": "w"})
    with pytest.raises(ValueError, match="span ceiling"):
        extract_pdf_cells_flat(["pdf_cell"] * m, [prov] * m, [None] * m, 0, m)


def test_corpus_chunks_match_oracle(spark, sf_dir):
    """The kernel on the real extracted corpus, plus one document with
    empty spans, against the oracle over documents.parquet at budgets 3,
    5 and 8 with both tokenizers."""
    import duckdb

    from docling_fast_server_spark import queries
    from docling_fast_server_spark.queries import extract_all

    base = extract_all(spark, sf_dir).persist()
    with_empty = base.unionByName(
        base.limit(1).select(
            F.lit("doc-empty").alias("doc_id"),
            F.expr("CAST(array() AS array<struct<kind:string,text:string,"
                   "media_ref:string,offset:int>>)").alias("spans"),
            F.lit("failed").alias("conversion_method"),
            F.lit(None).cast("string").alias("error"),
        )
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    try:
        for tokenizer in ("ws", "bpe"):
            for budget in (3, 5, 8):
                got = sorted(map(tuple, chunk_spans(
                    with_empty, budget=budget, tokenizer=tokenizer).collect()))
                want = con.execute(queries._oracle_chunks(budget, _tok_sql(tokenizer))).fetchall()
                assert got == sorted(want + [("doc-empty", 0, "", "", 0, 0)]), (budget, tokenizer)
                assert len(want) > 500
    finally:
        con.close()
        base.unpersist()  # shared-session hygiene: test_escaping asserts
        # zero persistent RDDs survive clear_caches


def _edge_docs():
    """Documents at the edges of the chunk assembly: no spans, NULL spans,
    a trailing zero-token media piece at an exact budget boundary (and
    one in the middle), and one of 300 spans mixing headers (some with
    NULL text), media and oversize texts; and one with empty-string
    texts, to which the BPE tokenizer gives an empty token list: it must
    add no separator to the chunk text, as in the oracle."""
    import random

    rng = random.Random(1207)
    big = []
    for i in range(300):
        kind = rng.choice(["text", "text", "text", "section_header", "picture"])
        if kind == "picture":
            big.append((kind, None, f"media://big/{i}"))
        elif kind == "section_header" and i % 7 == 0:
            big.append((kind, None, None))
        else:
            n = rng.choice([1, 2, 3, 5, 8, 13, 21])
            big.append((kind, " ".join(f"t{i}_{j}" for j in range(n)), None))
    return [
        ("e-empty", []),
        ("e-null", None),
        ("e-trailing-media", [("text", "a b c", None), ("picture", None, "media://t/0")]),
        (
            "e-boundary-media",
            [
                ("section_header", "H", None),
                ("text", "a b", None),
                ("picture", None, "media://b/0"),
                ("text", "c d e f", None),
            ],
        ),
        ("e-big", big),
        (
            "e-empty-text",
            [("text", "", None), ("text", "a b", None), ("text", "", None), ("text", "c", None)],
        ),
    ]


def _tokenizer_edge_docs():
    """Texts at the edges of the two tokenizers: leading, trailing and
    doubled spaces and space-only texts (each space bounds an empty ws
    token), punctuation runs, non-ASCII and astral characters (one bpe
    token per code point outside the ASCII alnum class), a header with
    NULL text (it keeps the previous heading), shuffled offsets, and two
    media spans sharing an offset (a chunk counts distinct offsets)."""
    import random

    rng = random.Random(2024)
    shuffled = [("section_header", f"S{i}", None) if i % 4 == 0 else ("text", f"u{i} v{i}", None)
                for i in range(12)]
    return [
        ("t-spaces", _spans([
            ("text", "  lead", None), ("text", "trail  ", None), ("text", "a  b   c", None),
            ("text", " ", None), ("text", "   ", None), ("text", "x y z w v", None),
        ])),
        ("t-punct", _spans([
            ("text", "a,,b!!?", None), ("text", "...", None), ("text", "--x--", None),
            ("text", "tab\tand\nnewline", None),
        ])),
        ("t-unicode", _spans([
            ("section_header", "Résumé", None),
            ("text", "naïve café — ünïcode", None),
            ("text", "emoji 😀🎉 astral 𝔘𝔫𝔦𝔠𝔬𝔡𝔢", None),
            ("text", "日本語のテキスト", None),
        ])),
        ("t-null-header", _spans([
            ("section_header", "KEPT", None), ("text", "a b", None),
            ("section_header", None, None), ("text", "c d e f", None),
        ])),
        ("t-shuffled", _spans(shuffled, rng.sample(range(100), len(shuffled)))),
        ("t-shared-offset", _spans(
            [("text", "a b", None), ("picture", None, "m1"), ("picture", None, "m2")], [0, 1, 1])),
    ]


def test_edge_docs_match_oracle(spark, monkeypatch):
    """The chunk assembly and both tokenizers against the oracle on edge
    documents. Empty and NULL spans yield the whole-doc fallback row."""
    docs = [(d, None if items is None else _spans(items)) for d, items in _edge_docs()]
    docs += _tokenizer_edge_docs()
    _assert_matches_oracle(spark, monkeypatch, docs)
    got = sorted(map(tuple, chunk_spans(spark.createDataFrame(docs, _SPANS_DDL), budget=3).collect()))
    by_doc = {}
    for r in got:
        by_doc.setdefault(r[0], []).append(r)
    assert by_doc["e-trailing-media"][-1] == ("e-trailing-media", 1, "", "", 0, 1)
    assert len(by_doc["e-big"]) > 20
    assert by_doc["t-null-header"][-1][2] == "KEPT"
