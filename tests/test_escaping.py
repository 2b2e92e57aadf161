"""Serializer escaping (round-4 verdict item 2) + kernel degrade hygiene.

The corpus now carries the escape-stress specials `"\\<&` (corpus.SPECIALS,
one decorated word per doc_id % SPECIAL_EVERY == 1 document), so these
tests are non-vacuous: export_json must parse with a strict JSON parser,
export_html must entity-escape content, and the HTML fixture round-trip
(render escape -> kernel unescape) must preserve span text exactly.
Reference contract: pdf_processor.py:210-213 emit valid JSON/HTML for
arbitrary text.
"""

import json

import pyarrow as pa
import pytest

from docling_fast_server_spark.corpus import SPECIAL_EVERY, SPECIALS, expected_spans
from docling_fast_server_spark.queries import q_export_html_doctags, q_export_json


def _decorated_ids(documents_pdf):
    return [int(d) for d, _ in documents_pdf if int(d) % SPECIAL_EVERY == 1]


def test_corpus_carries_specials(documents_pdf):
    assert _decorated_ids(documents_pdf), "no decorated docs at this sf"
    did = _decorated_ids(documents_pdf)[0]
    text = dict((int(d), t) for d, t in documents_pdf)[did]
    spans = expected_spans(did, text)
    assert any(s["text"] and SPECIALS in s["text"] for s in spans)


def test_export_json_parses_with_real_parser(spark, sf_dir, documents_pdf):
    rows = q_export_json(spark, sf_dir).collect()
    assert len(rows) == len(documents_pdf)
    texts = dict((int(d), t) for d, t in documents_pdf)
    n_special = 0
    for r in rows:
        parsed = json.loads(r["doc_json"])  # must be strictly valid JSON
        did = int(r["doc_id"].rsplit("-", 1)[1])
        exp = expected_spans(did, texts[did])
        assert [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in parsed
        ] == [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in exp]
        if any(s["text"] and SPECIALS in s["text"] for s in parsed):
            n_special += 1
    assert n_special > 0, "JSON escaping untested: no specials survived"


def test_export_html_entity_escapes_content(spark, sf_dir):
    rows = q_export_html_doctags(spark, sf_dir).collect()
    # the decorated word renders as `"\&lt;&amp;` (raw quote+backslash are
    # legal in element content; < and & must become entities)
    escaped = SPECIALS.replace("&", "&amp;").replace("<", "&lt;")
    hits = [r for r in rows if escaped in r["html"]]
    assert hits, "no escaped specials in any html export"
    for r in rows:
        body = r["html"]
        # no raw `<` may survive from span text: every `<` starts a tag
        for frag in body.split("<")[1:]:
            assert frag and (frag[0].isalpha() or frag[0] == "/"), body[:200]


def _spans_batch(docs: list[tuple[str, list[dict]]]) -> pa.RecordBatch:
    span_t = pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
    return pa.RecordBatch.from_arrays(
        [
            pa.array([d for d, _ in docs], type=pa.string()),
            pa.array([s for _, s in docs], type=pa.list_(span_t)),
        ],
        names=["doc_id", "spans"],
    )


def test_dispatch_truncates_partial_doc_on_failure(monkeypatch):
    """A kernel failure AFTER some spans were appended for the current doc
    must not leak those spans into the next document (ADVICE r03: the
    except branch truncates out_k/out_t/out_r/out_o back to the per-doc
    mark)."""
    from docling_fast_server_spark.operators import dispatch

    def bad_kernel(doc_id, html):
        if doc_id == "doc-000000":
            # valid first span, second lacks 'offset' -> KeyError fires
            # mid-append, after one span already landed in the out lists
            return [
                {"kind": "text", "text": "leaked?", "media_ref": None, "offset": 0},
                {"kind": "text"},
            ]
        return [{"kind": "text", "text": "ok", "media_ref": None, "offset": 0}]

    monkeypatch.setattr(dispatch, "extract_html_document", bad_kernel)
    batch = _spans_batch(
        [
            ("doc-000000", [{"kind": "html", "text": "<p>x</p>", "media_ref": None, "offset": 0}]),
            ("doc-000002", [{"kind": "html", "text": "<p>y</p>", "media_ref": None, "offset": 0}]),
        ]
    )
    (out,) = list(dispatch._extract_auto_arrow(iter([batch])))
    rows = out.to_pylist()
    assert rows[0]["conversion_method"] == "failed"
    assert rows[0]["spans"] == []  # nothing leaked from the partial doc
    assert rows[1]["conversion_method"] == "default"
    assert [s["text"] for s in rows[1]["spans"]] == ["ok"]


def test_dedup_clear_caches_releases_blocks(spark, sf_dir):
    """Round-3 verdict item 7: no persisted blocks survive clear_caches."""
    from docling_fast_server_spark.operators import dedup

    dedup.q_dedup_minhash(spark, sf_dir).count()
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() > 0, "expected a registered cache"
    released = dedup.clear_caches()
    assert released >= 1
    assert jsc.getPersistentRDDs().size() == 0
    assert dedup.clear_caches() == 0  # idempotent


def test_dedup_clear_caches_drops_temp_views(spark, sf_dir):
    """Each minhash build registers uniquely named temp views; a
    long-lived session that builds many must not accumulate them."""
    from docling_fast_server_spark.operators import dedup

    corpus = dedup.mutated_corpus(spark, sf_dir)
    n_tables = len(spark.catalog.listTables())
    for _ in range(20):
        dedup.minhash_pairs(corpus)
        assert len(spark.catalog.listTables()) > n_tables
        dedup.clear_caches(spark)
        assert len(spark.catalog.listTables()) == n_tables


def test_dedup_cache_registry_is_session_scoped(spark, sf_dir):
    """clear_caches(other_session) must not release THIS session's
    in-flight caches (ADVICE r04: the registry was a process-global
    list any caller could drain mid-query)."""
    from docling_fast_server_spark.operators import dedup

    df = dedup._register_cache(spark.range(10))
    class _NotASession:  # a distinct key: no caches registered under it
        pass
    try:
        assert dedup.clear_caches(_NotASession()) == 0
        jsc = spark.sparkContext._jsc.sc()
        assert jsc.getPersistentRDDs().size() >= 0  # still registered
        assert spark in dedup._LIVE_CACHES
    finally:
        assert dedup.clear_caches(spark) == 1
    assert dedup.clear_caches() == 0


def test_abandoned_session_entry_is_collectable(spark):
    """ADVICE r05: a session abandoned WITHOUT .stop() must not pin its
    registry entry forever. Values hold JVM handles (not Python
    DataFrames), so the weak key collects, and the per-session finalizer
    unpersists the leftover blocks."""
    import gc

    from docling_fast_server_spark.operators import dedup

    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() == 0
    s2 = spark.newSession()  # shares the JVM context, distinct session
    df = dedup._register_cache(s2.range(10))
    df.count()
    assert jsc.getPersistentRDDs().size() == 1
    assert any(s is s2 for s in list(dedup._LIVE_CACHES))
    n_before = len(list(dedup._LIVE_CACHES))
    del df, s2  # abandon without .stop()
    # pyspark itself pins the MOST RECENT session via the global
    # RDD.toDF monkey-patch closure; a later session takes that pin
    # over, which is the long-lived multi-session shape the advice
    # describes — older abandoned sessions must then be collectable
    spark.newSession()
    gc.collect()
    assert len(list(dedup._LIVE_CACHES)) < n_before
    # the finalizer released the JVM blocks of the abandoned session
    assert jsc.getPersistentRDDs().size() == 0
    assert dedup.clear_caches() == 0


def test_exports_fused_matches_jvm(spark, sf_dir):
    """The r8 fused extract+render kernel must be byte-identical to
    with_exports(extract_all(...)) for all four serializations on the
    real corpus (which includes the escape-stress specials)."""
    from docling_fast_server_spark.operators.dispatch import gen_extract_render_auto
    from docling_fast_server_spark.operators.exports import with_exports
    from docling_fast_server_spark.queries import extract_all

    jvm = {
        r["doc_id"]: (r["markdown"], r["html"], r["doctags"], r["doc_json"])
        for r in with_exports(extract_all(spark, sf_dir)).collect()
    }
    fused = {
        r["doc_id"]: (r["markdown"], r["html"], r["doctags"], r["doc_json"])
        for r in gen_extract_render_auto(
            spark, sf_dir, ("markdown", "html", "doctags", "doc_json")
        ).collect()
    }
    assert fused == jvm and len(fused) == 500


def test_exports_edge_cases(spark):
    """The JVM (with_exports) and Python (render_doc_py) compilations of
    the export SPEC agree on spans the corpus never produces: NULL and
    empty text/media_ref, a multi-separator kv text, escape-heavy
    values, an unknown kind, an empty spans array — one span per
    document, plus one document holding every span."""
    from docling_fast_server_spark.operators.exports import SPEC, render_doc_py, with_exports

    kinds = list(dict.fromkeys(k for fmt in SPEC.values() for k in fmt.kinds))
    kinds.append("no_such_kind")
    spans = [
        (k, t, r, i)
        for i, (k, t, r) in enumerate(
            (k, t, r)
            for k in kinds
            for t in (None, "", "a: b: c", "x<&>\"'y")
            for r in (None, "", 'm"<&>')
        )
    ]
    docs = [(f"e{i:03d}", [(k, t, r, 0)]) for i, (k, t, r, _) in enumerate(spans)]
    docs += [("all", spans), ("empty", [])]
    df = spark.createDataFrame(
        docs,
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    cols = list(SPEC)
    jvm = {r["doc_id"]: tuple(r[c] for c in cols) for r in with_exports(df).collect()}
    py = {
        d: tuple(render_doc_py(c, *[[s[i] for s in sp] for i in range(4)]) for c in cols)
        for d, sp in docs
    }
    assert len(jvm) == len(docs) and jvm == py
    # the edge cases are real: NULL renders are skipped, not joined
    assert jvm["empty"] == ("", "", "", "[]")
    assert py["e000"][0] == ""  # section_header with NULL text

