"""DFSB binary container: round-trip, corrupt-input degradation, and
bytes-kernel equivalence with the structured kernel (K1 bytes contract,
reference rq_tasks.py:10 / ocr.py:106)."""

import pytest

from docling_fast_server_spark.corpus import docs_raw
from docling_fast_server_spark.operators.dispatch import extract_auto
from docling_fast_server_spark.sources.binary_pack import (
    extract_binary,
    pack_cells,
    pack_raw,
    unpack_cells,
)


def test_roundtrip_unit():
    cells = [
        {"kind": "pdf_cell", "text": '{"p":1}', "media_ref": None, "offset": 0},
        {"kind": "pdf_image", "text": None, "media_ref": "media://1/img/2", "offset": 1},
        {"kind": "pdf_table", "text": "a | b", "media_ref": "media://1/tbl/3", "offset": 2},
        {"kind": "html", "text": "<html>é中</html>", "media_ref": None, "offset": 0},
    ]
    assert unpack_cells(pack_cells(cells)) == cells


def test_empty_doc_roundtrip():
    assert unpack_cells(pack_cells([])) == []


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b"XXXX" + b[4:],  # bad magic
        lambda b: b[:-3],  # truncated value
        lambda b: b + b"\x00",  # trailing bytes
        lambda b: b[:4] + b"\x63" + b[5:],  # unsupported version
    ],
)
def test_corrupt_payload_raises(mutate):
    buf = pack_cells(
        [{"kind": "pdf_cell", "text": '{"p":1}', "media_ref": None, "offset": 0}]
    )
    with pytest.raises(ValueError):
        unpack_cells(mutate(buf))


def test_binary_kernel_matches_structured(spark, sf_dir):
    """extract_binary(pack_raw(raw)) == extract_auto(raw) row for row,
    error text included — the bytes path adds serialization, not
    semantics. One extra document carries two json_doc payloads, which
    both routes must fail with the same error."""
    from docling_fast_server_spark.model import DOCS_RAW_SCHEMA

    two_json = spark.createDataFrame(
        [("doc-twojson", [("json_doc", "[]", None, 0), ("json_doc", "[]", None, 1)])],
        DOCS_RAW_SCHEMA,
    )
    raw = docs_raw(spark, sf_dir, which="all").select("doc_id", "spans").unionByName(two_json)

    def rows(df):
        return {
            r["doc_id"]: (r["spans"], r["conversion_method"], r["error"])
            for r in df.collect()
        }

    via_bytes = rows(extract_binary(pack_raw(raw)))
    via_rows = rows(extract_auto(raw))
    assert via_bytes == via_rows
    assert via_bytes.pop("doc-twojson")[1] == "failed"
    assert all(m != "failed" for _, m, _ in via_bytes.values())


def test_corrupt_payload_degrades_to_failed_row(spark):
    """A malformed upload yields a `failed` row, never a task error
    (degrade-never-die, pdf_processor.py:191-201)."""
    good = pack_cells(
        [{"kind": "pdf_cell", "text": '{"p":1,"l":72.0,"t":700.0,"r":292.0,"b":684.0,"fs":11.0,"text":"hi there"}', "media_ref": None, "offset": 0}]
    )
    df = spark.createDataFrame(
        [("doc-good", bytearray(good)), ("doc-bad", bytearray(b"JUNKJUNK"))],
        "doc_id string, payload binary",
    )
    rows = {r["doc_id"]: r for r in extract_binary(df).collect()}
    assert rows["doc-good"]["conversion_method"] == "default"
    assert rows["doc-bad"]["conversion_method"] == "failed"
    assert rows["doc-bad"]["spans"] == []
    assert "magic" in rows["doc-bad"]["error"]


# ---------------------------------------------------------------------------
# property-based: round-trip over arbitrary cells; parser never crashes
# on arbitrary bytes (ValueError or success only)
# ---------------------------------------------------------------------------
try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _text = st.one_of(st.none(), st.text(max_size=80))
    _cell = st.fixed_dictionaries(
        {
            "kind": st.sampled_from(["html", "pdf_cell", "pdf_image", "pdf_table"]),
            "text": _text,
            "media_ref": _text,
            "offset": st.integers(min_value=-(2**31), max_value=2**31 - 1),
        }
    )

    @given(st.lists(_cell, max_size=20))
    @settings(max_examples=60, deadline=None)
    def test_roundtrip_property(cells):
        assert unpack_cells(pack_cells(cells)) == cells

    @given(st.binary(max_size=200))
    @settings(max_examples=120, deadline=None)
    def test_unpack_never_crashes_unexpectedly(buf):
        try:
            cells = unpack_cells(buf)
        except ValueError:
            return  # the contract: malformed containers raise ValueError
        # if it parsed, it must round-trip stably
        assert pack_cells(cells) == buf

except ImportError:  # pragma: no cover
    pass
