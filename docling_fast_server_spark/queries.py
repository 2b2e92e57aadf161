"""Driver-facing query registry: every implemented operator as a
(queries(), oracle_sql()) pair — the correctness gate surface.

Each Spark query runs the REAL pipeline (generate raw corpus -> parse ->
extract -> transform); each oracle reconstructs the expected result
independently in DuckDB from the deterministic corpus spec. A bug anywhere
in the chain breaks the value-hash match.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .corpus import DEGRADED_MOD, PIC_MOD, TBL_MOD, TBL_REM, docs_raw
from .operators import dedup, relational, similarity, textstats
from .operators.chunking import chunk_spans
from .operators.dispatch import extract_auto, gen_extract_auto
from .operators.exports import with_exports
from .oracle import MAX_PARAS, expected_spans_sql


def _exploded(df):
    return df.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def extract_all(spark, sf_dir, skew: bool = False):
    """Full extraction pipeline: one scan, one FUSED generation +
    dispatch kernel — zero shuffles, a single Python boundary (r8: the
    composed docs_raw -> extract_auto route round-tripped every raw span
    through Arrow/JVM between its two kernels; gen_extract_auto is
    differential-tested row-equal). The flagship."""
    return gen_extract_auto(spark, sf_dir, skew=skew)


def q_extract_html_spans(spark, sf_dir):
    return _exploded(extract_auto(docs_raw(spark, sf_dir, which="html")))


def q_extract_pdf_spans(spark, sf_dir):
    return _exploded(extract_auto(docs_raw(spark, sf_dir, which="pdf")))


def q_extract_all_spans(spark, sf_dir):
    return _exploded(extract_all(spark, sf_dir))


def q_extract_binary_spans(spark, sf_dir):
    """K1 bytes contract: corpus -> packed DFSB binary payloads -> the
    byte-parsing kernel -> spans. Must equal extract_all_spans exactly
    (same oracle), proving the bytes->cells->layout path end to end."""
    from .sources.binary_pack import extract_binary, pack_raw

    return _exploded(extract_binary(pack_raw(docs_raw(spark, sf_dir, which="all"))))


def q_conversion_methods(spark, sf_dir):
    """Histogram of conversion tiers — the K10 degraded-tier accounting
    (and the status-histogram pattern of queue_manager.py:853-858)."""
    return (
        extract_all(spark, sf_dir)
        .groupBy("conversion_method")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


ORACLE_CONVERSION_METHODS = f"""
    WITH src AS (
      SELECT doc_id, (len(string_split(text, ' ')) + 9) // 10 AS np
      FROM documents
    ),
    flags AS (
      SELECT s.doc_id,
             max(CASE WHEN (s.doc_id + i) % {PIC_MOD} = 0
                       OR (s.doc_id + i) % {TBL_MOD} = {TBL_REM}
                      THEN 1 ELSE 0 END) AS has_media
      FROM src s, unnest(range({MAX_PARAS})) AS u(i)
      WHERE u.i < s.np
      GROUP BY s.doc_id
    )
    SELECT CASE WHEN doc_id % 2 = 1 AND doc_id % {DEGRADED_MOD} = 0 AND has_media = 1
                THEN 'limited' ELSE 'default' END AS conversion_method,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM flags GROUP BY 1
"""


# ---------------------------------------------------------------------------
# exports — real pipeline output vs SQL-rendered expected spans
# ---------------------------------------------------------------------------
# The registered export queries run the FUSED generate+extract+render
# kernel (r8, dispatch.gen_extract_render_auto): one Python pass, one
# string per document across the Arrow boundary — byte-identical to
# with_exports(extract_all(...)) (differential-tested; the JVM render
# path remains the generic operator for arbitrary extracted frames and
# the partitioned sink).
def q_export_markdown(spark, sf_dir):
    from .operators.dispatch import gen_extract_render_auto

    return gen_extract_render_auto(spark, sf_dir, ("markdown",))


def q_export_html_doctags(spark, sf_dir):
    """FOLDED registry row (round-7: frees a slot for pipeline_e2e, the
    r3 ts_textstats pattern): both serializations in one per-doc
    relation — every byte of the former export_html and export_doctags
    rows is still value-hash-checked."""
    from .operators.dispatch import gen_extract_render_auto

    return gen_extract_render_auto(spark, sf_dir, ("html", "doctags"))


def q_export_json(spark, sf_dir):
    from .operators.dispatch import gen_extract_render_auto

    return gen_extract_render_auto(spark, sf_dir, ("doc_json",))


_MD_RENDER = """
    CASE kind
      WHEN 'section_header' THEN '## ' || text
      WHEN 'text' THEN text
      WHEN 'key_value_area' THEN '- ' || text
      WHEN 'code' THEN '```' || chr(10) || text || chr(10) || '```'
      WHEN 'formula' THEN '$$ ' || text || ' $$'
      WHEN 'table' THEN '| ' || text || ' |'
      WHEN 'picture' THEN '![image](' || coalesce(media_ref, '') || ')'
    END
"""

# DuckDB mirrors of the xml / attr / json escape chains of exports.SPEC —
# same replace chains, same order (& first for entities, \ first for JSON)
def _sql_xml_esc(col: str) -> str:
    return f"replace(replace(replace({col}, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"


def _sql_attr_esc(col: str) -> str:
    return f"""replace({_sql_xml_esc(col)}, '"', '&quot;')"""


def _sql_json_esc(col: str) -> str:
    return f"""replace(replace({col}, '\\', '\\\\'), '"', '\\"')"""


_HTML_RENDER = f"""
    CASE kind
      WHEN 'section_header' THEN '<h2>' || {_sql_xml_esc("text")} || '</h2>'
      WHEN 'text' THEN '<p>' || {_sql_xml_esc("text")} || '</p>'
      WHEN 'key_value_area' THEN '<dl><dt>' || {_sql_xml_esc("split_part(text, ': ', 1)")}
           || '</dt><dd>' || {_sql_xml_esc("split_part(text, ': ', 2)")} || '</dd></dl>'
      WHEN 'code' THEN '<pre><code>' || {_sql_xml_esc("text")} || '</code></pre>'
      WHEN 'formula' THEN '<div class="math">' || {_sql_xml_esc("text")} || '</div>'
      WHEN 'table' THEN '<table data-ref="' || {_sql_attr_esc("coalesce(media_ref, '')")} || '">'
           || {_sql_xml_esc("text")} || '</table>'
      WHEN 'picture' THEN '<img src="' || {_sql_attr_esc("coalesce(media_ref, '')")} || '"/>'
    END
"""

_DOCTAGS_RENDER = f"""
    '<' || kind || '>' || {_sql_xml_esc("coalesce(text, media_ref, '')")} || '</' || kind || '>'
"""

_JSON_RENDER = f"""
    '{{"kind":' || '"' || {_sql_json_esc("kind")} || '"'
    || ',"text":' || coalesce('"' || {_sql_json_esc("text")} || '"', 'null')
    || ',"media_ref":' || coalesce('"' || {_sql_json_esc("media_ref")} || '"', 'null')
    || ',"offset":' || CAST("offset" AS VARCHAR) || '}}'
"""


def _export_oracle(render: str, sep: str, prefix: str = "", suffix: str = "", col: str = "markdown") -> str:
    return f"""
    WITH exp AS ({expected_spans_sql("all")})
    SELECT doc_id,
           '{prefix}' || coalesce(string_agg({render}, {sep} ORDER BY "offset"), '') || '{suffix}' AS {col}
    FROM exp GROUP BY doc_id
"""


ORACLE_EXPORT_MARKDOWN = _export_oracle(_MD_RENDER, "chr(10)||chr(10)", col="markdown")
ORACLE_EXPORT_HTML = _export_oracle(_HTML_RENDER, "chr(10)", col="html")
ORACLE_EXPORT_DOCTAGS = _export_oracle(_DOCTAGS_RENDER, "chr(10)", col="doctags")
ORACLE_EXPORT_JSON = _export_oracle(_JSON_RENDER, "','", prefix="[", suffix="]", col="doc_json")

ORACLE_EXPORT_HTML_DOCTAGS = f"""
    WITH exp AS ({expected_spans_sql("all")})
    SELECT doc_id,
           coalesce(string_agg({_HTML_RENDER}, chr(10) ORDER BY "offset"), '') AS html,
           coalesce(string_agg({_DOCTAGS_RENDER}, chr(10) ORDER BY "offset"), '') AS doctags
    FROM exp GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# chunking
# ---------------------------------------------------------------------------
CHUNK_BUDGET = 8  # < PARA_WORDS so the oracle gate exercises oversize
# splitting on every paragraph, not just the happy path


CHUNK_BPE_BUDGET = 10  # BPE tokens per chunk (~1.2x whitespace tokens on
# this corpus, so every paragraph still splits under the gate)


def q_chunks(spark, sf_dir):
    # the fused extraction kernel feeds the chunking kernel directly:
    # extract -> chunk is one narrow stage (test_plans asserts it).
    return chunk_spans(extract_all(spark, sf_dir), budget=CHUNK_BUDGET)


def q_chunks_bpe(spark, sf_dir):
    """Tokenizer-aware chunk budget: same chunker, budgeting BPE-ish
    pre-tokens (textstats.BPE_RE) instead of whitespace words — the
    HybridChunker tokenizer-awareness analog (pdf_processor.py:44-58).
    chunk_text re-serializes the sliced token array (as HybridChunker
    re-serializes through its tokenizer)."""
    return chunk_spans(
        extract_all(spark, sf_dir), budget=CHUNK_BPE_BUDGET, tokenizer="bpe"
    )


_KEY_SHIFT = 1 << 20  # oracle-only piece ordering key (offset * 2^20 +
# piece_i): the Spark chunker walks each document's pieces in (offset,
# piece_i) order inside its kernel, so this composite key exists solely
# so the SQL row-window formulation reproduces the identical order —
# valid because offsets and piece indices stay far below 2^20


def _oracle_chunks(budget: int, tok_sql: str) -> str:
    """The chunker oracle, parameterized over budget and the tokenizer
    rendering (`tok_sql` must produce the token list from `text`)."""
    b = budget
    return f"""
    WITH exp AS ({expected_spans_sql("all")}),
    sp AS (
      SELECT doc_id, "offset", text,
             CASE WHEN text IS NULL THEN 0
                  ELSE len({tok_sql}) END AS n_tok,
             coalesce(last_value(CASE WHEN kind = 'section_header' THEN text END IGNORE NULLS)
                      OVER (PARTITION BY doc_id ORDER BY "offset"
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), '') AS heading
      FROM exp
    ),
    pieces AS (
      SELECT doc_id, "offset", heading, piece_i,
             CASE WHEN text IS NULL THEN NULL
                  ELSE array_to_string(list_slice({tok_sql},
                         CAST(piece_i*{b}+1 AS INTEGER),
                         CAST(least((piece_i+1)*{b}, n_tok) AS INTEGER)), ' ') END AS p_text,
             CASE WHEN text IS NULL THEN 0
                  ELSE least({b}, n_tok - piece_i*{b}) END AS p_tok
      FROM (
        SELECT *, unnest(range(greatest(CAST(ceil(n_tok / {b}.0) AS BIGINT), 1))) AS piece_i
        FROM sp
      )
    ),
    cum AS (
      SELECT *,
             CAST(coalesce(sum(p_tok) OVER (
               PARTITION BY doc_id ORDER BY "offset", piece_i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // {b}
             AS INTEGER) AS chunk_idx,
             CAST("offset" AS BIGINT) * {_KEY_SHIFT} + piece_i AS ord_key
      FROM pieces
    )
    SELECT doc_id, chunk_idx,
           arg_min(heading, ord_key) AS heading,
           coalesce(string_agg(p_text, ' ' ORDER BY ord_key) FILTER (WHERE p_text IS NOT NULL), '') AS chunk_text,
           CAST(sum(p_tok) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT "offset") AS BIGINT) AS n_spans
    FROM cum GROUP BY doc_id, chunk_idx
"""


ORACLE_CHUNKS = _oracle_chunks(CHUNK_BUDGET, "string_split(text, ' ')")


def _oracle_chunks_bpe() -> str:
    from .operators.textstats import BPE_RE

    return _oracle_chunks(CHUNK_BPE_BUDGET, f"regexp_extract_all(text, '{BPE_RE}')")


# ---------------------------------------------------------------------------
# pipeline-ops queries — lineage (S7/A4) and compaction (S5/A5) as
# oracle-gated rows: each RUNS the real pipeline machinery against a
# scratch table and returns facts the DuckDB oracle derives independently
# from documents.parquet + the corpus spec.
# ---------------------------------------------------------------------------
def q_lineage_run_summary(spark, sf_dir):
    """Run a full extraction into scratch, then aggregate its lineage
    table to run level (the job-store audit of job_db.py:100-121 /
    queue_manager.py:366-401). Every value is a pure function of the
    corpus spec, so the oracle reproduces doc/span/method/char totals
    without seeing the run."""
    import tempfile

    from .plans.pipeline import run_extraction

    tmp = tempfile.mkdtemp(prefix="dfss_lineageq_")
    raw = docs_raw(spark, sf_dir, which="all")
    run_extraction(spark, raw, f"{tmp}/out", f"{tmp}/lineage", run_id="oracle-run")
    lin = spark.read.parquet(f"{tmp}/lineage")
    return lin.groupBy("run_id").agg(
        F.sum("doc_count").cast("long").alias("n_docs"),
        F.sum("span_count").cast("long").alias("n_spans"),
        F.sum("error_count").cast("long").alias("n_errors"),
        F.sum("method_default").cast("long").alias("n_default"),
        F.sum("method_limited").cast("long").alias("n_limited"),
        F.sum("total_characters").cast("long").alias("n_chars"),
    )


# limited iff pdf doc, degraded id, AND the doc has media items — the
# degradation is error-driven (corrupt media prov), so media-free docs
# never hit the corrupt payload (same flags logic as conversion_methods)
ORACLE_LINEAGE_RUN_SUMMARY = f"""
    WITH exp AS ({expected_spans_sql("all")}),
    src AS (
      SELECT doc_id, (len(string_split(text, ' ')) + 9) // 10 AS np
      FROM documents
    ),
    flags AS (
      SELECT s.doc_id,
             max(CASE WHEN (s.doc_id + i) % {PIC_MOD} = 0
                       OR (s.doc_id + i) % {TBL_MOD} = {TBL_REM}
                      THEN 1 ELSE 0 END) AS has_media
      FROM src s, unnest(range({MAX_PARAS})) AS u(i)
      WHERE u.i < s.np
      GROUP BY s.doc_id
    ),
    methods AS (
      SELECT CAST(sum(CASE WHEN doc_id % 2 = 1 AND doc_id % {DEGRADED_MOD} = 0
                            AND has_media = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_limited,
             CAST(sum(CASE WHEN doc_id % 2 = 1 AND doc_id % {DEGRADED_MOD} = 0
                            AND has_media = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_default
      FROM flags
    )
    SELECT 'oracle-run' AS run_id,
           (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
           (SELECT CAST(count(*) AS BIGINT) FROM exp) AS n_spans,
           CAST(0 AS BIGINT) AS n_errors,
           methods.n_default,
           methods.n_limited,
           (SELECT CAST(sum(coalesce(length(text), 0)) AS BIGINT) FROM exp) AS n_chars
    FROM methods
"""


def q_compaction_stats(spark, sf_dir):
    """S5 compaction + A5 storage stats as an auditable fact row: write
    the documents table as 16 files, compact to 4, report file counts and
    row preservation (the archive-rotation invariant of
    queue_manager.py:443-469: fewer files, nothing lost)."""
    import tempfile

    from .sources.io import compact_table, table_stats

    tmp = tempfile.mkdtemp(prefix="dfss_compactq_")
    path = f"{tmp}/t"
    from .tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    docs.repartition(16).write.mode("overwrite").parquet(path)
    files_before = table_stats(path)["n_files"]
    rows_before = spark.read.parquet(path).count()
    files_after = compact_table(spark, path, 4)
    rows_after = spark.read.parquet(path).count()
    return spark.createDataFrame(
        [(files_before, rows_before, files_after, rows_after)],
        "n_files_before long, n_rows_before long, n_files_after long, n_rows_after long",
    )


ORACLE_COMPACTION_STATS = """
    SELECT CAST(16 AS BIGINT) AS n_files_before,
           (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_rows_before,
           CAST(4 AS BIGINT) AS n_files_after,
           (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_rows_after
"""


def q_retention_sweep(spark, sf_dir):
    """S8 row-level retention DELETE as an oracle row: materialize the
    documents table, delete the doc_id % 5 == 0 band (the age predicate
    analog of job_db.py:241-260), return what survives per band."""
    import tempfile

    from .sources.io import retention_delete

    tmp = tempfile.mkdtemp(prefix="dfss_retainq_")
    path = f"{tmp}/t"
    from .tables import read_table

    read_table(spark, sf_dir, "documents").write.mode("overwrite").parquet(path)
    n_deleted = retention_delete(spark, path, "doc_id % 5 = 0")
    kept = spark.read.parquet(path)
    return kept.groupBy((F.col("doc_id") % 5).cast("long").alias("band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.lit(n_deleted).cast("long").alias("n_deleted"),
    )


ORACLE_RETENTION_SWEEP = """
    SELECT CAST(doc_id % 5 AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_kept,
           (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 5 = 0) AS n_deleted
    FROM documents WHERE doc_id % 5 != 0 GROUP BY doc_id % 5
"""


# ---------------------------------------------------------------------------
# pipeline_e2e — the flagship chain COMPOSED as one driver-gated query
# (round-7 verdict item 7): extract -> exact dedup -> near-dup (minhash
# LSH + connected-components) survivors -> chunk -> markdown export.
# The individual stages each have their own green row; this row checks
# operator COMPOSITION — schema handoffs, survivor propagation through
# the downstream stages — the way test_components.py checks
# survivors -> sink. Duplicates are injected at the EXTRACTED-text layer
# with string ids ('dup-'/'xct-' order after 'doc-', so the min-id
# survivor rule keeps originals), reproducible verbatim in SQL.
# ---------------------------------------------------------------------------
def q_pipeline_e2e(spark, sf_dir):
    """One row per document of the duplicate-injected corpus:
    (doc_id, survives, n_chunks, markdown); docs dropped by either dedup
    stage carry (0, 0, '')."""
    from .operators import dedup as dd
    from .operators.components import connected_components, ensure_checkpoint_dir

    ensure_checkpoint_dir(spark)
    extracted = dd._register_cache(extract_all(spark, sf_dir))
    texts = extracted.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.filter("spans", lambda s: s["text"].isNotNull()),
                lambda s: s["text"],
            ),
            " ",
        ).alias("text"),
    )
    num = F.substring("doc_id", 5, 6).cast("long")
    near = texts.filter(num % 10 == 0).select(
        F.concat(F.lit("dup-"), F.substring("doc_id", 5, 6)).alias("doc_id"),
        F.concat("text", F.lit(" xtra token end")).alias("text"),
    )
    exact = texts.filter(num % 25 == 0).select(
        F.concat(F.lit("xct-"), F.substring("doc_id", 5, 6)).alias("doc_id"),
        F.col("text"),
    )
    corpus = texts.unionByName(near).unionByName(exact)
    # stage 1: exact content-hash dedup (the reference's exact-first
    # discipline, queue_manager.py:917-929) — keep min doc_id per
    # 112-bit hash pair, one map-side-combinable groupBy + semi-join
    keyed = corpus.select(
        "doc_id",
        "text",
        dd.poly_hash(F.col("text"), dd.EXACT_B1, dd.EXACT_P1).alias("h1"),
        dd.poly_hash(F.col("text"), dd.EXACT_B2, dd.EXACT_P2).alias("h2"),
    )
    keep = keyed.groupBy("h1", "h2").agg(F.min("doc_id").alias("doc_id"))
    kept = keyed.join(keep, ["h1", "h2", "doc_id"]).select("doc_id", "text")
    # stage 2: near-dup clusters over the survivors of stage 1
    pairs = dd.minhash_pairs(kept)
    labels = connected_components(pairs, checkpoint_interval=1)
    lab = (
        kept.select(F.col("doc_id").alias("node"))
        .join(labels, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("component", F.col("node")).alias("component"),
        )
    )
    surv = (
        lab.filter(F.col("doc_id") == F.col("component"))
        .select("doc_id")
        .withColumn("survives", F.lit(1))
    )
    # stage 3+4: chunk + export the extracted docs, carried only for
    # survivors (dropped rows must come back empty, proving the keep-set
    # actually gates the downstream stages)
    chunks = (
        chunk_spans(extracted, budget=CHUNK_BUDGET)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_chunks"))
    )
    md = with_exports(extracted).select("doc_id", "markdown")
    svv = F.coalesce(F.col("survives"), F.lit(0))
    return (
        corpus.select("doc_id")
        .join(surv, "doc_id", "left")
        .join(md, "doc_id", "left")
        .join(chunks, "doc_id", "left")
        .select(
            "doc_id",
            svv.cast("int").alias("survives"),
            F.when(svv == 1, F.coalesce("n_chunks", F.lit(0)))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_chunks"),
            F.when(svv == 1, F.coalesce("markdown", F.lit("")))
            .otherwise(F.lit(""))
            .alias("markdown"),
        )
    )


def _oracle_pipeline_e2e() -> str:
    from .operators.dedup import (
        EXACT_B1,
        EXACT_B2,
        EXACT_P1,
        EXACT_P2,
        MINHASH_PAIRS_FINAL_SQL,
        minhash_ctes_sql,
        poly_hash_sql,
    )

    return f"""
    WITH RECURSIVE exp AS ({expected_spans_sql("all")}),
    dtext AS (
      SELECT doc_id,
             coalesce(string_agg(text, ' ' ORDER BY "offset")
                      FILTER (WHERE text IS NOT NULL), '') AS text
      FROM exp GROUP BY doc_id
    ),
    e2e_corpus AS (
      SELECT doc_id, text FROM dtext
      UNION ALL
      SELECT 'dup-' || substring(doc_id, 5), text || ' xtra token end'
      FROM dtext WHERE CAST(substring(doc_id, 5) AS BIGINT) % 10 = 0
      UNION ALL
      SELECT 'xct-' || substring(doc_id, 5), text
      FROM dtext WHERE CAST(substring(doc_id, 5) AS BIGINT) % 25 = 0
    ),
    keyed AS (
      SELECT doc_id, text,
             {poly_hash_sql('text', EXACT_B1, EXACT_P1)} AS h1,
             {poly_hash_sql('text', EXACT_B2, EXACT_P2)} AS h2
      FROM e2e_corpus
    ),
    keep AS (SELECT h1, h2, min(doc_id) AS doc_id FROM keyed GROUP BY h1, h2),
    kept AS (SELECT k.doc_id, k.text FROM keyed k JOIN keep USING (h1, h2, doc_id)),
    {minhash_ctes_sql('kept')},
    allpairs AS ({MINHASH_PAIRS_FINAL_SQL}),
    sym AS (
      SELECT doc_a AS u, doc_b AS v FROM allpairs
      UNION
      SELECT doc_b, doc_a FROM allpairs
    ),
    cnodes AS (SELECT DISTINCT u AS node FROM sym),
    cc(node, lbl) AS (
      SELECT node, node FROM cnodes
      UNION
      SELECT s.v, cc.lbl FROM cc JOIN sym s ON s.u = cc.node
    ),
    comp AS (SELECT node, MIN(lbl) AS component FROM cc GROUP BY node),
    lab AS (
      SELECT k.doc_id, coalesce(p.component, k.doc_id) AS component
      FROM kept k LEFT JOIN comp p ON p.node = k.doc_id
    ),
    surv AS (SELECT doc_id FROM lab WHERE doc_id = component),
    chunk_rows AS ({ORACLE_CHUNKS}),
    nch AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
            FROM chunk_rows GROUP BY doc_id),
    md AS ({ORACLE_EXPORT_MARKDOWN})
    SELECT c.doc_id,
           CAST(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS survives,
           CAST(CASE WHEN s.doc_id IS NOT NULL THEN coalesce(n.n_chunks, 0)
                     ELSE 0 END AS BIGINT) AS n_chunks,
           CASE WHEN s.doc_id IS NOT NULL THEN coalesce(m.markdown, '')
                ELSE '' END AS markdown
    FROM e2e_corpus c
    LEFT JOIN surv s USING (doc_id)
    LEFT JOIN nch n USING (doc_id)
    LEFT JOIN md m USING (doc_id)
"""


EXTRACTION_QUERIES = {
    "extract_html_spans": q_extract_html_spans,
    "extract_pdf_spans": q_extract_pdf_spans,
    "extract_all_spans": q_extract_all_spans,
    "extract_binary_spans": q_extract_binary_spans,
    "conversion_methods": q_conversion_methods,
    "export_markdown": q_export_markdown,
    "export_html_doctags": q_export_html_doctags,
    "export_json": q_export_json,
    "chunks": q_chunks,
    "chunks_bpe": q_chunks_bpe,
    "lineage_run_summary": q_lineage_run_summary,
    "compaction_stats": q_compaction_stats,
    "retention_sweep": q_retention_sweep,
    "pipeline_e2e": q_pipeline_e2e,
}

EXTRACTION_ORACLES = {
    "extract_html_spans": expected_spans_sql("html"),
    "extract_pdf_spans": expected_spans_sql("pdf"),
    "extract_all_spans": expected_spans_sql("all"),
    "extract_binary_spans": expected_spans_sql("all"),
    "conversion_methods": ORACLE_CONVERSION_METHODS,
    "export_markdown": ORACLE_EXPORT_MARKDOWN,
    "export_html_doctags": ORACLE_EXPORT_HTML_DOCTAGS,
    "export_json": ORACLE_EXPORT_JSON,
    "chunks": ORACLE_CHUNKS,
    "chunks_bpe": _oracle_chunks_bpe(),
    "lineage_run_summary": ORACLE_LINEAGE_RUN_SUMMARY,
    "compaction_stats": ORACLE_COMPACTION_STATS,
    "retention_sweep": ORACLE_RETENTION_SWEEP,
    "pipeline_e2e": _oracle_pipeline_e2e(),
}


def all_queries():
    from .operators import components, multimodal

    q = {}
    q.update(EXTRACTION_QUERIES)
    q.update(relational.QUERIES)
    q.update(dedup.QUERIES)
    q.update(components.QUERIES)
    q.update(similarity.QUERIES)
    q.update(textstats.QUERIES)
    q.update(multimodal.QUERIES)
    return q


def all_oracles():
    from .operators import components, multimodal

    o = {}
    o.update(EXTRACTION_ORACLES)
    o.update(relational.ORACLES)
    o.update(dedup.ORACLES)
    o.update(components.oracles())
    o.update(similarity.ORACLES)
    o.update(textstats.ORACLES)
    o.update(multimodal.oracles())
    return o
