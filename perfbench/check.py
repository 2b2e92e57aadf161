"""Untimed output checks against the library's independent DuckDB oracle.

Each check compares one Spark output (written to parquet) with the oracle
SQL the library already carries, row for row with ``EXCEPT ALL`` both
ways, and counts the *units* (documents or rows, by key) that differ.
Dropped, duplicated or altered rows all land in the difference.

``corrupt=True`` drops one span from the first extracted document before
comparing: the benchmark's self-test uses it to prove a bad output is
counted.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import duckdb

from docling_fast_server_spark.oracle import expected_spans_sql
from docling_fast_server_spark.queries import (
    ORACLE_CHUNKS,
    ORACLE_CONVERSION_METHODS,
    ORACLE_EXPORT_DOCTAGS,
    ORACLE_EXPORT_HTML,
    ORACLE_EXPORT_JSON,
    ORACLE_EXPORT_MARKDOWN,
    ORACLE_LINEAGE_RUN_SUMMARY,
)


@dataclass
class Tally:
    """Checked units and the ones that mismatched, per output."""

    checked: int = 0
    failed: int = 0
    detail: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)

    def add(self, name: str, checked: int, failed: int) -> None:
        self.checked += checked
        self.failed += failed
        self.detail[name] = {"checked": checked, "failed": failed}


def connect(inputs: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")  # Spark is idle while the check runs
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{inputs}/documents.parquet')")
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{inputs}/embeddings.parquet/*.parquet')"
    )
    con.execute(f"CREATE VIEW dups AS SELECT * FROM read_parquet('{inputs}/dups.parquet')")
    return con


def _diff(con, actual: str, expected: str, key: str) -> tuple[int, int]:
    """(distinct expected keys, distinct keys in the symmetric difference)."""
    n_exp, n_bad = con.execute(
        f"""
        WITH a AS ({actual}), e AS ({expected}),
        d AS (
            (SELECT * FROM a EXCEPT ALL SELECT * FROM e)
            UNION ALL
            (SELECT * FROM e EXCEPT ALL SELECT * FROM a)
        )
        SELECT (SELECT count(DISTINCT ({key})) FROM e),
               (SELECT count(DISTINCT ({key})) FROM d)
        """
    ).fetchone()
    return n_exp, n_bad


def _spans_of(table_glob: str, corrupt: bool) -> str:
    rel = f"""
        SELECT doc_id, s.kind AS kind, s.text AS text, s.media_ref AS media_ref,
               s."offset" AS "offset"
        FROM (SELECT doc_id, unnest(spans) AS s FROM read_parquet('{table_glob}'))
    """
    if corrupt:  # drop one span of the first document
        rel = f"""
            SELECT * FROM ({rel})
            WHERE NOT (doc_id = (SELECT min(doc_id) FROM read_parquet('{table_glob}'))
                       AND "offset" = 0)
        """
    return rel


def check_spans(con, tally: Tally, table_glob: str, corrupt: bool) -> None:
    """Extracted/committed spans vs ``oracle.expected_spans_sql``; one unit
    per document. Also the conversion-tier histogram vs its oracle."""
    n, bad = _diff(
        con,
        _spans_of(table_glob, corrupt),
        f'SELECT doc_id, kind, text, media_ref, "offset" FROM ({expected_spans_sql("all")})',
        "doc_id",
    )
    tally.add("spans", n, bad)
    methods = f"""
        SELECT CAST(conversion_method AS VARCHAR) AS conversion_method,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM read_parquet('{table_glob}') GROUP BY 1
    """
    n, bad = _diff(con, methods, ORACLE_CONVERSION_METHODS, "conversion_method")
    tally.add("conversion_methods", n, bad)
    for method, n_docs in con.execute(methods).fetchall():
        tally.counts[f"docs_{method}"] = n_docs
    tally.counts["spans_out"] = con.execute(
        f"SELECT sum(len(spans)) FROM read_parquet('{table_glob}')"
    ).fetchone()[0]


def check_lineage(con, tally: Tally, lineage_glob: str) -> None:
    """Lineage rows summed over every run vs the lineage-summary oracle
    (one full run over the corpus): one unit."""
    actual = f"""
        SELECT CAST(sum(doc_count) AS BIGINT) AS n_docs,
               CAST(sum(span_count) AS BIGINT) AS n_spans,
               CAST(sum(error_count) AS BIGINT) AS n_errors,
               CAST(sum(method_default) AS BIGINT) AS n_default,
               CAST(sum(method_limited) AS BIGINT) AS n_limited,
               CAST(sum(total_characters) AS BIGINT) AS n_chars
        FROM read_parquet('{lineage_glob}')
    """
    expected = f"""
        SELECT n_docs, n_spans, n_errors, n_default, n_limited, n_chars
        FROM ({ORACLE_LINEAGE_RUN_SUMMARY})
    """
    n, bad = _diff(con, actual, expected, "n_docs")
    tally.add("lineage", n, bad)
    tally.counts["lineage_rows"] = con.execute(
        f"SELECT count(*) FROM read_parquet('{lineage_glob}')"
    ).fetchone()[0]


def check_exports(con, tally: Tally, table_glob: str) -> None:
    """The four serializations per document vs ``queries.ORACLE_EXPORT_*``."""
    expected = f"""
        SELECT m.doc_id, m.markdown, h.html, d.doctags, j.doc_json
        FROM ({ORACLE_EXPORT_MARKDOWN}) m
        JOIN ({ORACLE_EXPORT_HTML}) h USING (doc_id)
        JOIN ({ORACLE_EXPORT_DOCTAGS}) d USING (doc_id)
        JOIN ({ORACLE_EXPORT_JSON}) j USING (doc_id)
    """
    actual = f"SELECT doc_id, markdown, html, doctags, doc_json FROM read_parquet('{table_glob}')"
    n, bad = _diff(con, actual, expected, "doc_id")
    tally.add("exports", n, bad)
    tally.counts["exports_bytes_out"] = con.execute(
        "SELECT sum(strlen(markdown) + strlen(html) + strlen(doctags)"
        f" + strlen(doc_json)) FROM read_parquet('{table_glob}')"
    ).fetchone()[0]


def check_chunks(con, tally: Tally, table_glob: str) -> None:
    """Chunk rows vs ``queries._oracle_chunks`` (budget 8, whitespace)."""
    cols = "doc_id, chunk_idx, heading, chunk_text, n_tokens, n_spans"
    actual = (
        "SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx, heading, chunk_text,"
        " CAST(n_tokens AS BIGINT) AS n_tokens, CAST(n_spans AS BIGINT) AS n_spans"
        f" FROM read_parquet('{table_glob}')"
    )
    n, bad = _diff(con, actual, f"SELECT {cols} FROM ({ORACLE_CHUNKS})", "doc_id, chunk_idx")
    tally.add("chunks", n, bad)
    tally.counts["chunks_out"] = con.execute(
        f"SELECT count(*) FROM read_parquet('{table_glob}')"
    ).fetchone()[0]


def _dedup_corpus_sql() -> str:
    """The duplicate-injected (doc_id, text) corpus, from the documents
    table and the seeded injection plan alone (the pipeline_e2e form)."""
    return f"""
    exp AS ({expected_spans_sql("all")}),
    dtext AS (
      SELECT doc_id,
             coalesce(string_agg(text, ' ' ORDER BY "offset")
                      FILTER (WHERE text IS NOT NULL), '') AS text
      FROM exp GROUP BY doc_id
    ),
    corpus AS (
      SELECT doc_id, text FROM dtext
      UNION ALL
      SELECT 'dup-' || substring(t.doc_id, 5), t.text || ' xtra token end'
      FROM dtext t JOIN dups d ON d.doc_id = t.doc_id AND d.kind = 'near'
      UNION ALL
      SELECT 'xct-' || substring(t.doc_id, 5), t.text
      FROM dtext t JOIN dups d ON d.doc_id = t.doc_id AND d.kind = 'exact'
    )"""


def check_dedup(con, tally: Tally, pairs_glob: str, comp_glob: str) -> None:
    """Verified pairs vs ``dedup.minhash_ctes_sql`` +
    ``MINHASH_PAIRS_FINAL_SQL``, and components vs a recursive closure
    over the oracle pairs (the pipeline_e2e oracle)."""
    from docling_fast_server_spark.operators.dedup import (
        MINHASH_PAIRS_FINAL_SQL,
        minhash_ctes_sql,
    )

    con.execute(
        f"""
        CREATE OR REPLACE TEMP TABLE oracle_pairs AS
        WITH {_dedup_corpus_sql()},
        {minhash_ctes_sql('corpus')}
        SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM ({MINHASH_PAIRS_FINAL_SQL})
        """
    )
    actual = f"SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM read_parquet('{pairs_glob}')"
    n, bad = _diff(con, actual, "SELECT * FROM oracle_pairs", "doc_a, doc_b")
    tally.add("dedup_pairs", n, bad)
    tally.counts["verified_pairs"] = con.execute(
        f"SELECT count(*) FROM read_parquet('{pairs_glob}')"
    ).fetchone()[0]
    expected_comp = """
        WITH RECURSIVE sym AS (
          SELECT doc_a AS u, doc_b AS v FROM oracle_pairs
          UNION
          SELECT doc_b, doc_a FROM oracle_pairs
        ),
        cc(node, lbl) AS (
          SELECT DISTINCT u, u FROM sym
          UNION
          SELECT s.v, cc.lbl FROM cc JOIN sym s ON s.u = cc.node
        )
        SELECT node, min(lbl) AS component FROM cc GROUP BY node
    """
    actual = f"SELECT node, component FROM read_parquet('{comp_glob}')"
    n, bad = _diff(con, actual, expected_comp, "node")
    tally.add("components", n, bad)
    tally.counts["clusters"] = con.execute(
        f"SELECT count(DISTINCT component) FROM read_parquet('{comp_glob}')"
    ).fetchone()[0]


def check_topk(con, tally: Tally, table_glob: str) -> None:
    """Brute-force cosine top-k vs ``similarity.ORACLE_SIM_TOPK_BRUTE``."""
    from docling_fast_server_spark.operators.similarity import ORACLE_SIM_TOPK_BRUTE

    cols = "q_id, neighbor_id, CAST(rank AS INTEGER) AS rank, round(cos_sim, 6) AS cos_sim"
    n, bad = _diff(
        con,
        f"SELECT {cols} FROM read_parquet('{table_glob}')",
        f"SELECT {cols} FROM ({ORACLE_SIM_TOPK_BRUTE})",
        "q_id, rank",
    )
    tally.add("sim_topk", n, bad)
