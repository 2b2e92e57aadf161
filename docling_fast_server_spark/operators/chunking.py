"""Hybrid chunking — token-budget segmentation over ordered spans, with
heading-context propagation, oversize-span splitting, and a whole-doc
fallback row.

The reference chunks each converted document with docling's HybridChunker
(/root/reference/src/services/pdf_processor.py:36-69: lazy init, chunk,
error-fallback to one whole-document chunk; the placeholder route
src/routes/placeholder.py:12-15 confirms chunking is a standalone op).
HybridChunker is tokenizer-aware, carries section context into each chunk,
and splits items larger than the budget; this operator re-expresses each
of those contracts relationally:

- heading context: every span carries the most recent section_header at
  or before it (last-ignore-nulls window per doc); a chunk reports the
  heading active at its first piece.
- oversize splitting: a span with more tokens than the budget explodes
  into ceil(n_tok/budget) pieces of at most `budget` tokens each, so no
  chunk is ever forced past the budget by a single long span.
- whole-doc fallback: a document that yields no chunkable pieces (e.g.
  failed extraction with an empty spans array) still emits exactly one
  empty chunk row — a document is never silently dropped by the chunker
  (the except-branch of pdf_processor.py:60-69). Implemented with
  explode_outer, so the fallback costs nothing: no anti-join, no second
  pass over the extraction kernel.

All pure DataFrame code with ZERO exchanges: spans arrive as one
ordered array per document, so heading propagation, piece explosion,
the running token budget and the chunk grouping are all higher-order
functions within that array — extract -> chunk is a single narrow
stage (plan-asserted). Exactly reproducible in ANSI SQL (oracle in
queries.py, which still uses the equivalent row-window formulation).

Media spans (text IS NULL) contribute zero tokens and are excluded from
chunk text but counted in n_spans, mirroring HybridChunker's text-only
token budget with preserved item references.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..model import K_SECTION_HEADER

DEFAULT_BUDGET = 40  # tokens per chunk


def _tok_arr(col, tokenizer: str):
    """The token array the budget counts: whitespace words ("ws", the
    HybridChunker default proxy) or the BPE-ish pre-tokenization
    ("bpe": alnum runs + per-punctuation tokens, textstats.BPE_RE) —
    the tokenizer-aware budget of the reference's HybridChunker
    (pdf_processor.py:44-58 budgets real tokenizer tokens). Both are
    narrow JVM-side expressions with exact DuckDB analogs."""
    if tokenizer == "ws":
        return F.split(col, " ")
    if tokenizer == "bpe":
        from .textstats import BPE_RE

        return F.regexp_extract_all(col, F.lit(BPE_RE), F.lit(0))
    raise ValueError(f"unknown tokenizer {tokenizer!r}")


def _tok_sql(col: str, tokenizer: str) -> str:
    """SQL rendering of _tok_arr (same expressions, parsed JVM-side)."""
    if tokenizer == "ws":
        return f"split({col}, ' ')"
    if tokenizer == "bpe":
        from .textstats import BPE_RE

        # Spark's string-literal parsing would rewrite these, silently
        # diverging from the F.lit pattern _tok_arr passes
        if "\\" in BPE_RE or "'" in BPE_RE:
            raise ValueError(f"BPE_RE cannot be embedded in a SQL literal: {BPE_RE!r}")
        return f"regexp_extract_all({col}, '{BPE_RE}', 0)"
    raise ValueError(f"unknown tokenizer {tokenizer!r}")


def _chunk_spans_hof(
    df, budget: int = DEFAULT_BUDGET, spans_col: str = "spans", tokenizer: str = "ws"
):
    """DataFrame(doc_id, spans, ...) -> DataFrame(doc_id, chunk_idx,
    heading, chunk_text, n_tokens, n_spans).

    ZERO-SHUFFLE chunker: the spans already arrive as one ordered array
    per document, so heading propagation, piece explosion, the running
    token count and the chunk grouping are all computed WITHIN that
    array by higher-order functions — no Window, no groupBy, no
    Exchange of any kind, making the whole extract -> chunk pipeline a
    single narrow stage at any corpus size. The selects are SQL
    strings parsed JVM-side in one call each (r8: the same trees built
    through the Column API cost ~150 py4j round-trips, ~0.25-0.35 s of
    driver latency per bench rep). Differential-tested row-equal to the
    row-window route (test_chunking.test_hof_expr_matches_column_reference).

    The fold carries (current heading, running token total, items); a
    piece p of a span whose earlier spans total C tokens lands in chunk
    floor((C + p*budget)/budget) — identical to the row-windowed
    cumulative-sum definition because every non-final piece holds
    exactly `budget` tokens. Chunk indices are contiguous from 0 and
    never decrease along the piece array, so each chunk is one slice of
    it, from where chunk_idx changes to the next change (pieces stay in
    (offset, piece_i) order: first member = the
    arg-min-ord_key piece whose heading the chunk reports). The
    heading's IS NOT NULL guard keeps the oracle's IGNORE NULLS
    semantics: a header with NULL text keeps the previous heading.

    Ordering contract: relies on per-document offset UNIQUENESS, which
    the extraction kernels guarantee (offsets are the dense span index,
    corpus.expected_spans) and tests assert at the extraction boundary
    (test_chunking.test_offsets_unique_per_doc). A document with no
    chunkable pieces (empty/NULL spans) still emits exactly one empty
    chunk row — the whole-doc fallback of pdf_processor.py:60-69.

    Per-document cost is O(spans^2) struct copies (the prefix fold
    rebuilds its items array per span) + O(pieces) for chunk assembly
    (one pass finds the chunk starts, and each piece lands in exactly
    one slice) — all cheap JVM element operations with no
    re-tokenization, single-threaded WITHIN one document. At the
    production budget (~hundreds of tokens) a pathological 1000-page /
    10^4-span document costs ~10^8 element touches, tens of ms — far
    below what shipping the corpus through a shuffle costs, and the LPT
    size-descending partition order (plans/pipeline) already
    schedules such stragglers first."""
    B = budget

    def ntok(s: str) -> str:
        return (
            f"CASE WHEN {s}.text IS NULL THEN CAST(0 AS BIGINT) "
            f"ELSE CAST(size({_tok_sql(f'{s}.text', tokenizer)}) AS BIGINT) END"
        )

    items_t = (
        "array<struct<offset:int,heading:string,n_tok:bigint,"
        "text:string,cum_before:bigint>>"
    )
    init = (
        "struct(CAST('' AS STRING) AS heading, CAST(0 AS BIGINT) AS cum, "
        f"CAST(array() AS {items_t}) AS items)"
    )
    heading = (
        "CASE WHEN s.kind = 'section_header' AND s.text IS NOT NULL "
        "THEN s.text ELSE acc.heading END"
    )
    merge = (
        f"struct({heading} AS heading, (acc.cum + {ntok('s')}) AS cum, "
        f"concat(acc.items, array(struct(s.offset AS offset, {heading} AS heading, "
        f"{ntok('s')} AS n_tok, s.text AS text, acc.cum AS cum_before))) AS items)"
    )
    enr = (
        f"aggregate(array_sort({spans_col}, (a, b) -> a.offset - b.offset), "
        f"{init}, (acc, s) -> {merge}) AS enr"
    )
    d = df.selectExpr("doc_id", enr)

    p_join = (
        f"array_join(slice({_tok_sql('it.text', tokenizer)}, "
        f"CAST(p * {B} + 1 AS INT), {B}), ' ')"
    )
    if tokenizer == "bpe":
        # a text with no BPE token (e.g. '') has one piece with an empty
        # token list, joined to '' in Spark but to NULL in DuckDB, and
        # the chunk text skips NULL pieces: '' would add a stray space.
        # BPE tokens are never empty, so NULLIF maps exactly the
        # empty-list pieces. The ws split of '' is [''], joined to '' on
        # both engines, so the ws SQL stays as it is.
        p_join = f"nullif({p_join}, '')"
    p_text = f"CASE WHEN it.text IS NULL THEN CAST(NULL AS STRING) ELSE {p_join} END"
    p_tok = (
        "CASE WHEN it.text IS NULL THEN CAST(0 AS BIGINT) ELSE "
        f"least(CAST({B} AS BIGINT), it.n_tok - p * {B}) END"
    )
    piece_rows = (
        f"transform(sequence(CAST(0 AS BIGINT), "
        f"greatest(CEIL(it.n_tok / {B}), CAST(1 AS BIGINT)) - 1), "
        f"p -> struct(CAST(FLOOR((it.cum_before + p * {B}) / {B}) AS BIGINT) "
        f"AS chunk_idx, it.offset AS offset, it.heading AS heading, "
        f"{p_text} AS p_text, {p_tok} AS p_tok))"
    )
    d = d.selectExpr(
        "doc_id", f"flatten(transform(enr.items, it -> {piece_rows})) AS pieces"
    )

    # pieces are in (offset, piece_i) order, so chunk_idx never decreases
    # along the array and each chunk is the contiguous run of pieces from
    # one 1-based start (where chunk_idx changes) to the next. Indices
    # are contiguous from 0: consecutive pieces' cum_before differ by at
    # most B, so no budget window below the last one opened is skipped.
    # A trailing zero-token media piece at an exact budget boundary opens
    # one more (empty-text) chunk, exactly as the row-windowed cumulative
    # sum does. The size guard is needed: sequence(1, 0) counts down.
    starts = (
        "CASE WHEN coalesce(size(pieces), 0) > 0 THEN "
        "filter(sequence(1, size(pieces)), i -> CASE WHEN i = 1 THEN true ELSE "
        "element_at(pieces, i).chunk_idx <> element_at(pieces, i - 1).chunk_idx END) "
        "END AS starts"
    )
    d = d.selectExpr("doc_id", "pieces", starts)

    stop = "CASE WHEN j + 1 < size(starts) THEN starts[j + 1] ELSE size(pieces) + 1 END"
    chunk_of = (
        "struct(CAST(m[0].chunk_idx AS INT) AS chunk_idx, m[0].heading AS heading, "
        "array_join(transform(filter(m, x -> x.p_text IS NOT NULL), "
        "x -> x.p_text), ' ') AS chunk_text, "
        "aggregate(m, CAST(0 AS BIGINT), (a, x) -> a + x.p_tok) AS n_tokens, "
        "CAST(size(array_distinct(transform(m, x -> x.offset))) AS BIGINT) "
        "AS n_spans)"
    )
    fallback = (
        "array(struct(CAST(0 AS INT) AS chunk_idx, '' AS heading, "
        "'' AS chunk_text, CAST(0 AS BIGINT) AS n_tokens, "
        "CAST(0 AS BIGINT) AS n_spans))"
    )
    chunks = (
        f"CASE WHEN coalesce(size(pieces), 0) = 0 THEN {fallback} "
        f"ELSE transform(transform(starts, (s, j) -> slice(pieces, s, ({stop}) - s)), "
        f"m -> {chunk_of}) END"
    )
    return d.selectExpr("doc_id", f"explode({chunks}) AS c").selectExpr(
        "doc_id",
        "c.chunk_idx AS chunk_idx",
        "c.heading AS heading",
        "c.chunk_text AS chunk_text",
        "c.n_tokens AS n_tokens",
        "c.n_spans AS n_spans",
    )


# span-count ceiling for the HOF fast path: the prefix fold is O(spans^2)
# struct copies per document (tens of ms at 10^4 spans, but minutes at
# 10^5 — a single-straggler hazard). The extraction kernels assert this
# ceiling (model.MAX_SPANS_PER_DOC — a doc beyond it degrades to
# `failed`), which is what makes route='hof' sound for kernel-fed input;
# arbitrary stored tables go through route='auto' below.
_KEY_SHIFT = 1 << 20  # ord_key = offset * 2^20 + piece_i; valid while
# offsets and piece indices stay below 2^20 (10^6 spans/pieces per doc —
# far above the ceiling that routes docs here)


def _chunk_spans_window(
    df, budget: int = DEFAULT_BUDGET, spans_col: str = "spans", tokenizer: str = "ws"
):
    """The row-window formulation of the SAME chunking semantics (the
    shape the oracle SQL uses): explode spans to rows, per-doc windows
    for heading propagation + the running token sum, explode pieces,
    group by (doc_id, chunk_idx). O(spans log spans) per document — the
    fallback for documents too large for the in-array prefix fold. Whole
    documents still colocate (Window/groupBy partition by doc_id), but
    the per-span work is constant, so a 10^5-span document is ~10^5
    element operations instead of 10^10.

    Assumes non-empty span arrays (the auto router sends empty/NULL-span
    docs to the HOF branch, whose explode_outer fallback emits the
    whole-doc empty chunk row)."""
    from pyspark.sql import Window

    B = budget

    def tok(c):
        return _tok_arr(c, tokenizer)

    rows = df.select("doc_id", F.explode(spans_col).alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.offset").alias("offset"),
    )
    ntok = (
        F.when(F.col("text").isNull(), F.lit(0).cast("long"))
        .otherwise(F.size(tok(F.col("text"))).cast("long"))
    )
    w = Window.partitionBy("doc_id").orderBy("offset")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = w.rowsBetween(Window.unboundedPreceding, -1)
    rows = rows.select(
        "doc_id",
        "offset",
        "text",
        ntok.alias("n_tok"),
        F.coalesce(
            F.last(
                F.when(
                    (F.col("kind") == K_SECTION_HEADER) & F.col("text").isNotNull(),
                    F.col("text"),
                ),
                ignorenulls=True,
            ).over(run),
            F.lit(""),
        ).alias("heading"),
        F.coalesce(F.sum(ntok).over(prev), F.lit(0).cast("long")).alias("cum_before"),
    )
    n_pieces = F.greatest(F.ceil(F.col("n_tok") / B), F.lit(1).cast("long"))
    p_join = F.array_join(
        F.slice(tok(F.col("text")), (F.col("piece_i") * B + 1).cast("int"), B), " "
    )
    if tokenizer == "bpe":  # an empty-list piece is NULL (see _chunk_spans_hof)
        p_join = F.nullif(p_join, F.lit(""))
    pieces = rows.select(
        "doc_id",
        "offset",
        "heading",
        "text",
        "n_tok",
        "cum_before",
        F.explode(F.sequence(F.lit(0).cast("long"), n_pieces - 1)).alias("piece_i"),
    ).select(
        "doc_id",
        "offset",
        "heading",
        F.floor((F.col("cum_before") + F.col("piece_i") * B) / B)
        .cast("long")
        .alias("chunk_idx"),
        (F.col("offset").cast("long") * _KEY_SHIFT + F.col("piece_i")).alias("ord_key"),
        F.when(F.col("text").isNull(), F.lit(None).cast("string"))
        .otherwise(p_join)
        .alias("p_text"),
        F.when(F.col("text").isNull(), F.lit(0).cast("long"))
        .otherwise(F.least(F.lit(B).cast("long"), F.col("n_tok") - F.col("piece_i") * B))
        .alias("p_tok"),
    )
    return pieces.groupBy("doc_id", F.col("chunk_idx").cast("int").alias("chunk_idx")).agg(
        F.min_by("heading", "ord_key").alias("heading"),
        F.array_join(
            F.filter(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ord_key", "p_text"))),
                    lambda x: x["p_text"],
                ),
                lambda t: t.isNotNull(),
            ),
            " ",
        ).alias("chunk_text"),
        F.sum("p_tok").cast("long").alias("n_tokens"),
        F.countDistinct("offset").cast("long").alias("n_spans"),
    )


def chunk_spans(
    df,
    budget: int = DEFAULT_BUDGET,
    spans_col: str = "spans",
    tokenizer: str = "ws",
    route: str = "auto",
    hof_max_spans: int | None = None,
):
    """Route documents to the right chunker formulation.

    route='auto' (default, safe for arbitrary stored tables): documents
    at or below the span ceiling take the zero-shuffle in-array fold;
    documents above it take the row-window formulation, so one
    pathological 10^5-span document cannot become a minutes-long
    straggler task. The two branches each filter the child plan, so a
    non-materialized upstream (e.g. a fused extraction kernel) executes
    twice — for kernel-fed input use route='hof' instead, which is sound
    because the kernels enforce model.MAX_SPANS_PER_DOC at the
    extraction boundary (a doc beyond it degrades to `failed` with no
    spans). When auto-routing WOULD double-evaluate an expensive Python
    kernel stage (a MapInArrow/MapInPandas in the un-persisted child
    plan), a RuntimeWarning makes the footgun visible (round-4 verdict
    item 7) — the fix is route='hof' or persisting the input, both the
    caller's call; silently caching a corpus-sized frame here would be
    the worse surprise at scale.

    route='hof' / route='window' force one formulation."""
    from ..model import MAX_SPANS_PER_DOC

    ceiling = hof_max_spans if hof_max_spans is not None else MAX_SPANS_PER_DOC
    if route == "hof":
        return _chunk_spans_hof(df, budget, spans_col, tokenizer)
    if route == "window":
        return _chunk_spans_window(df, budget, spans_col, tokenizer)
    if route != "auto":
        raise ValueError(f"unknown route {route!r}")
    if not df.is_cached:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        if any(k in plan for k in ("MapInArrow", "MapInPandas", "EvalPython")):
            import warnings

            warnings.warn(
                "chunk_spans(route='auto') filters its input twice, and this "
                "input contains a non-materialized Python kernel stage that "
                "will therefore EXECUTE twice. Kernel-fed input should use "
                "route='hof' (sound: kernels enforce MAX_SPANS_PER_DOC at the "
                "extraction boundary) or persist the input first.",
                RuntimeWarning,
                stacklevel=2,
            )
    n = F.coalesce(F.size(F.col(spans_col)), F.lit(0))
    small = df.filter(n <= ceiling)
    big = df.filter(n > ceiling)
    return _chunk_spans_hof(small, budget, spans_col, tokenizer).unionByName(
        _chunk_spans_window(big, budget, spans_col, tokenizer)
    )
