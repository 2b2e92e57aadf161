"""Serialization exports — markdown / html / doctags / canonical json.

The reference materializes four serializations from one converted document
(/root/reference/src/services/pdf_processor.py:203-224: export_to_doctags/
dict/markdown/html) — all pure functions of the item tree in reading order
(output.json:1 .files.markdown: '## ' per section_header, body order
preserved; ImageRefMode.EMBEDDED inlines media by reference).

Here they are pure functions of the spans array, declared once in `SPEC`
(per format: separator, prefix/suffix, one template per span kind and a
default template) and compiled twice:
  * to Spark SQL text (`_sql`) — `with_exports` is one projection parsed
    JVM-side (transform + array_join inside whole-stage codegen), so the
    export stage adds no Arrow round-trip;
  * to Python source (`_py_template`), one lambda per (format, kind) — the fused
    extract+render kernel (dispatch.gen_extract_render_auto) renders
    inside its own Python pass via `render_doc_py`.
Both compilations keep SQL semantics: a template containing a NULL field
renders NULL, and array_join skips NULL renders (no separator).
test_exports_fused_matches_jvm (real corpus) and test_exports_edge_cases
(NULL / empty / multi-separator / escape-heavy spans) pin them equal.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import functions as F

from ..model import (
    K_CODE,
    K_FORMULA,
    K_KEY_VALUE,
    K_PICTURE,
    K_SECTION_HEADER,
    K_TABLE,
    K_TEXT,
    RAW_DOCTAGS,
    RAW_HTML_DOC,
    RAW_JSON,
    RAW_MARKDOWN,
)


class Field(NamedTuple):
    """A span field in a template, evaluated in this order: `cols`
    coalesced left to right, then `or_` if all are NULL; `cut` keeps the
    part before the first (1) / after the last (-1) ': '; `esc` applies
    an escape chain (`json` also quotes, and renders NULL as `null`); a
    value still NULL then renders as the string `null` when that is set,
    else the whole template renders NULL."""

    cols: tuple
    or_: str | None = None
    cut: int = 0
    esc: str = ""
    null: str | None = None


class Format(NamedTuple):
    sep: str
    kinds: dict  # span kind -> template: a tuple of str literals and Fields
    default: tuple  # the template of every other kind
    prefix: str = ""
    suffix: str = ""


# replace chains in order: & first for entities, backslash first for JSON.
# Control characters are excluded by the span-text contract (words +
# single spaces), so these make every export parse strictly.
_XML = (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"))
_ESC = {"xml": _XML, "attr": _XML + (('"', "&quot;"),), "json": (("\\", "\\\\"), ('"', '\\"'))}

_T = Field(("text",))
_XT = Field(("text",), esc="xml")
# or_="": concat null-propagates, so a ref-less picture/table (kernel-
# emittable — a <figure> with no <img src>) would drop and shift every
# later offset on re-ingest (ADVICE r05); the readers map '' back to None
_REF = Field(("media_ref",), or_="", esc="attr")
_K = Field(("kind",))

SPEC = {
    "markdown": Format("\n\n", {
        K_SECTION_HEADER: ("## ", _T),
        K_TEXT: (_T,),
        K_KEY_VALUE: ("- ", _T),
        K_CODE: ("```\n", _T, "\n```"),
        K_FORMULA: ("$$ ", _T, " $$"),
        K_TABLE: ("| ", _T, " |"),
        K_PICTURE: ("![image](", Field(("media_ref",), or_=""), ")"),
    }, (Field(("text",), or_=""),)),
    "html": Format("\n", {
        K_SECTION_HEADER: ("<h2>", _XT, "</h2>"),
        K_TEXT: ("<p>", _XT, "</p>"),
        # split the raw kv text first, escape each part for element content
        K_KEY_VALUE: ("<dl><dt>", Field(("text",), cut=1, esc="xml"),
                      "</dt><dd>", Field(("text",), cut=-1, esc="xml"), "</dd></dl>"),
        K_CODE: ("<pre><code>", _XT, "</code></pre>"),
        K_FORMULA: ('<div class="math">', _XT, "</div>"),
        K_TABLE: ('<table data-ref="', _REF, '">', _XT, "</table>"),
        K_PICTURE: ('<img src="', _REF, '"/>'),
    }, (Field(("text",), esc="xml", null=""),)),
    # body entity-escaped: a raw `<` or `&` in span text would make the
    # tag stream ambiguous for any downstream doctags consumer
    "doctags": Format("\n", {}, (
        "<", _K, ">", Field(("text", "media_ref"), or_="", esc="xml"), "</", _K, ">")),
    # canonical one-line JSON per span (stable field order, nulls kept) —
    # engine-neutral so the DuckDB oracle reproduces it with string
    # concatenation. The export_to_dict analog (pdf_processor.py:211).
    "doc_json": Format(",", {}, (
        '{"kind":', Field(("kind",), esc="json"), ',"text":', Field(("text",), esc="json"),
        ',"media_ref":', Field(("media_ref",), esc="json"), ',"offset":', Field(("offset",)), "}",
    ), prefix="[", suffix="]"),
}


# ---------------------------------------------------------------------------
# SPEC -> Spark SQL text; the lambda variable `s` is one span struct
# ---------------------------------------------------------------------------
def _sql_lit(v: str) -> str:
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'").replace("\n", "\\n") + "'"


def _sql_field(f: Field) -> str:
    cols = [f"s.`{c}`" for c in f.cols]
    alts = cols + ([_sql_lit(f.or_)] if f.or_ is not None else [])
    x = alts[0] if len(alts) == 1 else f"coalesce({', '.join(alts)})"
    if f.cols == ("offset",):
        x = f"CAST({x} AS STRING)"
    if f.cut:
        x = f"substring_index({x}, ': ', {f.cut})"
    for a, b in _ESC.get(f.esc, ()):
        x = f"replace({x}, {_sql_lit(a)}, {_sql_lit(b)})"
    if f.esc == "json":
        x = f"""CASE WHEN {cols[0]} IS NULL THEN 'null' ELSE concat('"', {x}, '"') END"""
    return x if f.null is None else f"coalesce({x}, {_sql_lit(f.null)})"


def _sql_template(parts: tuple) -> str:
    out = [_sql_lit(p) if isinstance(p, str) else _sql_field(p) for p in parts]
    return out[0] if len(out) == 1 else f"concat({', '.join(out)})"


def _sql(fmt: Format, spans_col: str) -> str:
    body = _sql_template(fmt.default)
    if fmt.kinds:
        whens = " ".join(
            f"WHEN s.`kind` = {_sql_lit(k)} THEN {_sql_template(t)}" for k, t in fmt.kinds.items()
        )
        body = f"CASE {whens} ELSE {body} END"
    x = f"array_join(transform({spans_col}, s -> {body}), {_sql_lit(fmt.sep)})"
    if fmt.prefix or fmt.suffix:
        x = f"concat({_sql_lit(fmt.prefix)}, {x}, {_sql_lit(fmt.suffix)})"
    return x


# ---------------------------------------------------------------------------
# SPEC -> Python source: one `lambda k, t, r, o` per (format, kind) with
# the escape chains and NULL guards inlined (a closure per part renders
# ~3x slower)
# ---------------------------------------------------------------------------
_PY_VAR = {"kind": "k", "text": "t", "media_ref": "r", "offset": "o"}


def _py_field(f: Field) -> tuple[str, str | None]:
    """(expression, its NULL test — None when it is never NULL)."""
    vs = [_PY_VAR[c] for c in f.cols]
    alts = vs + ([repr(f.or_)] if f.or_ is not None else [])
    x = alts[-1]
    for v in reversed(alts[:-1]):
        x = f"({v} if {v} is not None else {x})"
    isnull = " and ".join(f"{v} is None" for v in vs) if f.or_ is None else None
    if f.cols == ("offset",):
        x = f"str({x})"
    if f.cut:  # Spark substring_index(x, ': ', +-1)
        x += ".partition(': ')[0]" if f.cut == 1 else ".rpartition(': ')[2]"
    for a, b in _ESC.get(f.esc, ()):
        x += f".replace({a!r}, {b!r})"
    if f.esc == "json":
        x = f"""'"' + {x} + '"'"""
    null = "null" if f.esc == "json" else f.null
    if isnull and null is not None:
        x, isnull = f"({null!r} if {isnull} else {x})", None
    return x, isnull


def _py_template(parts: tuple):
    exprs, guards = [], []
    for p in parts:
        x, isnull = (repr(p), None) if isinstance(p, str) else _py_field(p)
        exprs.append(x)
        if isnull and f"({isnull})" not in guards:
            guards.append(f"({isnull})")
    src = " + ".join(exprs)
    if guards:
        src = f"None if {' or '.join(guards)} else {src}"
    return eval(f"lambda k, t, r, o: {src}")  # source built from SPEC only


_PY = {
    name: ({k: _py_template(t) for k, t in fmt.kinds.items()}, _py_template(fmt.default))
    for name, fmt in SPEC.items()
}


def render_doc_py(fmt: str, kinds, texts, refs, offsets) -> str:
    """One document's export string from parallel span lists, with the
    array_join semantics of the JVM path: NULL renders are SKIPPED (no
    separator)."""
    if fmt not in SPEC:
        raise ValueError(f"unknown export format {fmt!r}")
    spec, (fns, default) = SPEC[fmt], _PY[fmt]
    parts = [fns.get(k, default)(k, t, r, o) for k, t, r, o in zip(kinds, texts, refs, offsets)]
    return spec.prefix + spec.sep.join([p for p in parts if p is not None]) + spec.suffix


def with_exports(df, spans_col: str = "spans"):
    """Fan out all four serializations — the get_output() analog
    (pdf_processor.py:203-224). One narrow projection, zero shuffles."""
    return df.withColumns({name: F.expr(_sql(fmt, spans_col)) for name, fmt in SPEC.items()})


EXPORT_FORMATS = ("markdown", "html", "doctags", "json")
_FORMAT_COL = {"markdown": "markdown", "html": "html", "doctags": "doctags", "json": "doc_json"}
# export format -> the raw kind its serialization reader is dispatched on
_FORMAT_RAW_KIND = {"markdown": RAW_MARKDOWN, "html": RAW_HTML_DOC, "doctags": RAW_DOCTAGS, "json": RAW_JSON}


def melt_exports(df, spans_col: str = "spans"):
    """(doc_id, format, payload): the four serializations as rows — the
    melt that feeds the per-format partitioned sink. Narrow (withColumns
    + explode of a 4-element literal array)."""
    structs = [
        F.struct(F.lit(fmt).alias("format"), F.col(col).alias("payload"))
        for fmt, col in _FORMAT_COL.items()
    ]
    return (
        with_exports(df, spans_col)
        .select("doc_id", F.explode(F.array(*structs)).alias("fp"))
        .select("doc_id", F.col("fp.format").alias("format"), F.col("fp.payload").alias("payload"))
    )


def write_exports_partitioned(df, path: str, compression: str = "zstd") -> None:
    """S9 per-format sink + S6 explicit compression: write the melted
    exports PARTITIONED BY (format) with zstd. The reference writes each
    serialization to its own output prefix (tests/runpod_integration.py:
    160-190) and gzips responses/archives (src/main.py:23,
    queue_manager.py:443-469); the columnar analog is one partitioned
    table whose per-format readers scan ONLY their partition (partition
    pruning — asserted in tests/test_exports_sink.py) with a modern
    codec set explicitly rather than inherited defaults."""
    (
        melt_exports(df)
        .write.mode("overwrite")
        .option("compression", compression)
        .partitionBy("format")
        .parquet(path)
    )


def read_export_spans(spark, path: str, fmt: str):
    """Re-hydrate documents from the S9 partitioned export store: scan
    ONLY the requested format's partition (pruned — asserted in
    tests/test_exports_sink.py) and run the matching serialization
    reader (md_ingest) back to spans. Closes the loop: export store ->
    first-class raw input, with each format's documented lossiness
    (json and html are exact; html keeps table media_refs via
    data-ref)."""
    from .md_ingest import extract_payload

    if fmt not in _FORMAT_RAW_KIND:
        raise ValueError(f"no reader for export format {fmt!r} (have {sorted(_FORMAT_RAW_KIND)})")
    part = (
        spark.read.parquet(path)
        .filter(F.col("format") == fmt)
        .select("doc_id", "payload")
    )
    return extract_payload(part, "payload", _FORMAT_RAW_KIND[fmt])
