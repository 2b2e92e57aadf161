"""DuckDB oracle SQL builders.

These reconstruct the *expected* extraction output directly from the
`documents` table via the same deterministic item spec as corpus.py
(keep constants in sync!) — so the Spark path (generate raw HTML/PDF
cells -> parse -> extract) is verified against an independent relational
derivation. This is the SQL form of the reference's golden-fixture
strategy (/root/reference/output.json:1 as captured truth).

All oracle queries emit explicitly CAST columns so the driver's
schema + value-hash compare is type-stable across DuckDB and Spark.
"""

from __future__ import annotations

from .corpus import (
    CODE_MOD,
    CODE_REM,
    DEGRADED_MOD,
    FORMULA_MOD,
    FORMULA_REM,
    HDR_WORDS,
    HEADER_EVERY,
    KV_EVERY,
    PARA_WORDS,
    PIC_MOD,
    SPECIAL_EVERY,
    TBL_CELLS,
    TBL_MOD,
    TBL_REM,
)

# corpus._decorate_words in SQL: the escape-stress suffix `"\<&` on one
# word of every doc_id % SPECIAL_EVERY == 1 document (DuckDB list lambda
# index is 1-based). Single-quoted SQL strings take backslash literally.
_SPECIALS_SQL = "'\"\\<&'"
_DECORATED_WORDS = f"""CASE WHEN doc_id % {SPECIAL_EVERY} = 1 THEN
           list_transform(string_split(text, ' '),
             (x, i) -> CASE WHEN i = doc_id % {PARA_WORDS} + 1
                            THEN x || {_SPECIALS_SQL} ELSE x END)
         ELSE string_split(text, ' ') END"""

# Maximum paragraphs per document assumed by every unnest(range(...))
# paragraph generator in the oracle SQL (here and in queries.py, which
# imports this constant). A document beyond the cap would silently
# diverge from the Spark side, so tests/test_oracle_parity.py asserts
# max(n_paras) < MAX_PARAS against the live sf dir. documents.text is
# ~600 chars -> < 64 paras; 256 leaves 4x headroom.
MAX_PARAS = 256
_MAX_PARAS = MAX_PARAS  # back-compat alias


def expected_spans_sql(which: str = "all") -> str:
    """Exploded expected spans: (doc_id, kind, text, media_ref, offset).

    which: 'all' | 'html' (even ids) | 'pdf' (odd ids, degraded tier
    applied: docs with doc_id % DEGRADED_MOD == 0 lose picture/table —
    the `limited` pipeline of pdf_processor.py:144-166).

    The degraded relabeling (code/formula -> text) is conditioned on the
    doc actually HAVING a media item (med.has_media): degradation is
    error-driven in the kernel — a corrupt media payload triggers the
    limited retry — so a degraded-ID doc too short to contain any
    picture/table never degrades. conversion_methods/lineage oracles
    encoded this from the start; the spans oracle only met such a doc at
    sf1 (doc 5559: 10 paragraphs, no media slot — found by the r6
    full-registry sf1 gate). The media-row `limited` filters stay
    unconditional: they are vacuous for media-free docs by definition.
    """
    if which == "html":
        doc_filter = "WHERE doc_id % 2 = 0"
        limited = "AND FALSE"  # html docs never degrade
        degraded = "FALSE"
    elif which == "pdf":
        doc_filter = "WHERE doc_id % 2 = 1"
        limited = f"AND doc_id % {DEGRADED_MOD} = 0"
        degraded = f"(doc_id % {DEGRADED_MOD} = 0 AND has_media = 1)"
    else:
        doc_filter = ""
        limited = f"AND (doc_id % 2 = 1 AND doc_id % {DEGRADED_MOD} = 0)"
        degraded = (
            f"(doc_id % 2 = 1 AND doc_id % {DEGRADED_MOD} = 0 AND has_media = 1)"
        )

    p = PARA_WORDS
    return f"""
WITH src AS (
  SELECT doc_id, {_DECORATED_WORDS} AS w FROM documents {doc_filter}
),
par AS (
  SELECT doc_id, w, CAST(gs.i AS BIGINT) AS i,
         array_to_string(list_slice(w, i*{p}+1, i*{p}+{p}), ' ') AS ptext
  FROM src, (SELECT unnest(range({_MAX_PARAS})) AS i) gs
  WHERE gs.i * {p} < len(w)
),
med AS (
  -- does the doc contain ANY media slot? (the degrade trigger source)
  SELECT doc_id,
         max(CASE WHEN (doc_id + i) % {PIC_MOD} = 0
                   OR (doc_id + i) % {TBL_MOD} = {TBL_REM}
                  THEN 1 ELSE 0 END) AS has_media
  FROM par GROUP BY doc_id
),
parm AS (
  SELECT par.*, med.has_media FROM par JOIN med USING (doc_id)
),
items AS (
  SELECT doc_id, i, 0 AS rnk, 'section_header' AS kind,
         upper(array_to_string(list_slice(w, i*{p}+1, i*{p}+{HDR_WORDS}), ' ')) AS text,
         CAST(NULL AS VARCHAR) AS media_ref
  FROM par WHERE i % {HEADER_EVERY} = 0
  UNION ALL
  SELECT doc_id, i, 1, 'text', ptext, CAST(NULL AS VARCHAR) FROM par
  UNION ALL
  SELECT doc_id, i, 2, 'key_value_area',
         w[CAST(i*{p}+1 AS INTEGER)] || ': ' || w[CAST(i*{p}+2 AS INTEGER)],
         CAST(NULL AS VARCHAR)
  FROM par WHERE i % {KV_EVERY} = {KV_EVERY - 1} AND len(w) >= i*{p}+2
  UNION ALL
  SELECT doc_id, i, 3,
         CASE WHEN {degraded} THEN 'text' ELSE 'code' END,
         'def ' || w[CAST(i*{p}+1 AS INTEGER)] || '(): return ' || w[CAST(i*{p}+2 AS INTEGER)],
         CAST(NULL AS VARCHAR)
  FROM parm WHERE i % {CODE_MOD} = {CODE_REM} AND len(w) >= i*{p}+2
  UNION ALL
  SELECT doc_id, i, 4,
         CASE WHEN {degraded} THEN 'text' ELSE 'formula' END,
         w[CAST(i*{p}+1 AS INTEGER)] || ' = ' || w[CAST(i*{p}+2 AS INTEGER)]
           || ' + ' || w[CAST(i*{p}+3 AS INTEGER)],
         CAST(NULL AS VARCHAR)
  FROM parm WHERE i % {FORMULA_MOD} = {FORMULA_REM} AND len(w) >= i*{p}+3
  UNION ALL
  SELECT doc_id, i, 5, 'picture', CAST(NULL AS VARCHAR),
         'media://' || doc_id || '/img/' || i
  FROM par WHERE (doc_id + i) % {PIC_MOD} = 0 AND NOT (TRUE {limited})
  UNION ALL
  SELECT doc_id, i, 6, 'table',
         array_to_string(list_slice(w, i*{p}+1, i*{p}+{TBL_CELLS}), ' | '),
         'media://' || doc_id || '/tbl/' || i
  FROM par WHERE (doc_id + i) % {TBL_MOD} = {TBL_REM} AND NOT (TRUE {limited})
)
SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS doc_id,
       CAST(kind AS VARCHAR) AS kind,
       CAST(text AS VARCHAR) AS text,
       CAST(media_ref AS VARCHAR) AS media_ref,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i, rnk) - 1 AS INTEGER) AS "offset"
FROM items
"""
