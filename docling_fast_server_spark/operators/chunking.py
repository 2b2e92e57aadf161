"""Hybrid chunking — token-budget segmentation over ordered spans, with
heading-context propagation, oversize-span splitting, and a whole-doc
fallback row.

The reference chunks each converted document with docling's HybridChunker
(/root/reference/src/services/pdf_processor.py:36-69: lazy init, chunk,
error-fallback to one whole-document chunk; the placeholder route
src/routes/placeholder.py:12-15 confirms chunking is a standalone op).
HybridChunker is tokenizer-aware, carries section context into each chunk,
and splits items larger than the budget; this operator keeps each of
those contracts:

- heading context: every span carries the most recent section_header
  with non-NULL text at or before it; a chunk reports the heading
  active at its first piece.
- oversize splitting: a span with more tokens than the budget splits
  into ceil(n_tok/budget) pieces of at most `budget` tokens each, so no
  chunk is ever forced past the budget by a single long span.
- whole-doc fallback: a document that yields no chunkable pieces (e.g.
  failed extraction with an empty spans array) still emits exactly one
  empty chunk row — a document is never silently dropped by the chunker
  (the except-branch of pdf_processor.py:60-69).

Like the reference, it makes one pass over each document: one
mapInArrow kernel over (doc_id, spans) that tokenizes each text once and
is linear in spans + tokens, with no exchange — extract -> chunk stays a
single narrow stage (plan-asserted).
The spec is the ANSI-SQL row-window formulation in queries._oracle_chunks,
which the tests compare against.

Media spans (text IS NULL) contribute zero tokens and are excluded from
chunk text but counted in n_spans, mirroring HybridChunker's text-only
token budget with preserved item references.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from itertools import chain

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T

from ..model import K_SECTION_HEADER, list_array, np_values, numeric_array, string_array
from .textstats import BPE_RE

DEFAULT_BUDGET = 40  # tokens per chunk


def _tokenizer(tokenizer: str):
    """Arrow strings -> the token lists the budget counts (NULL for a NULL
    text): whitespace words ("ws", the HybridChunker default proxy,
    Spark's split(text, ' '): every space bounds a token, empty ones
    included) or the BPE-ish pre-tokenization ("bpe": alnum runs +
    per-punctuation tokens, re.findall of textstats.BPE_RE, which Java
    and RE2 read alike) — the tokenizer-aware budget of the reference's
    HybridChunker (pdf_processor.py:44-58 budgets real tokenizer tokens)."""
    if tokenizer == "ws":
        return lambda texts: pc.split_pattern(texts, " ")
    if tokenizer == "bpe":
        findall = re.compile(BPE_RE).findall

        def bpe(texts):
            toks = [() if t is None else findall(t) for t in texts.to_pylist()]
            ends = np.cumsum(np.fromiter(map(len, toks), np.int64, len(toks)))
            words = string_array(list(chain.from_iterable(toks)))
            return list_array(np.append(0, ends), words, np_values(texts.is_valid()))

        return bpe
    raise ValueError(f"unknown tokenizer {tokenizer!r}")


def _sums(values, starts):
    """Sums of `values` over the runs beginning at `starts` (int64)."""
    if not len(starts):
        return np.zeros(0, np.int64)
    return np.add.reduceat(values.astype(np.int64), starts)


def _chunk_arrow(budget: int, tokenizer: str):
    """The chunking kernel over (doc_id, spans) batches, linear in spans +
    tokens: each batch's spans are put in offset order within their
    document (a stable sort, run only when some are out of order) and
    tokenized once; the rest is array arithmetic. A piece p of a span
    whose earlier spans total C tokens lands in chunk (C + p*B) // B and
    holds min(B, n_tok - p*B) tokens (0 for a NULL text). Pieces, in
    order, tile the batch's token stream, and chunk indices never
    decrease along them, so a chunk's text is the contiguous run of
    tokens its pieces hold, joined with ' ' — its pieces' texts joined
    with ' ', skipping the pieces of no tokens, which the oracle makes
    NULL. A chunk reports its first piece's heading and counts its
    distinct offsets (adjacent after the sort)."""
    B = budget
    tokens = _tokenizer(tokenizer)

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        header, blank1 = string_array([K_SECTION_HEADER, ""])  # scalars for pc calls
        for b in batches:
            spans = b.column(1)
            n_span = np_values(spans.value_lengths(), fill=0)
            names = (f.name for f in spans.type.value_type)
            fields = dict(zip(names, spans.flatten().flatten()))
            text, kind = fields["text"], fields["kind"]
            off = np_values(fields["offset"])
            doc = np.repeat(np.arange(len(b)), n_span)
            if np.any((np.diff(off) < 0) & (doc[1:] == doc[:-1])):
                order = np.lexsort((off, doc))
                taken = numeric_array(order, pa.int64())
                text, kind, off = text.take(taken), kind.take(taken), off[order]
            toks = tokens(text)
            n = np_values(toks.value_lengths(), fill=0).astype(np.int64)
            first = np.cumsum(n_span) - n_span  # each document's first span
            tstart = np.cumsum(n) - n  # each span's first token in the batch
            cum_before = tstart - np.append(tstart, 0)[first][doc]
            # heading: the last section_header with text at or before the span
            is_head = np_values(pc.equal(kind, header), fill=False) & np_values(text.is_valid())
            head = np.maximum.accumulate(np.where(is_head, np.arange(len(n)), -1))
            head = np.where(head >= first[doc], head, -1)
            # pieces, in (offset, piece) order
            n_piece = np.maximum(-(-n // B), 1)
            span = np.repeat(np.arange(len(n)), n_piece)
            p = np.arange(len(span)) - np.repeat(np.cumsum(n_piece) - n_piece, n_piece)
            cidx = cum_before[span] // B + p
            ptok = np.minimum(B, n[span] - p * B)
            pdoc, poff = doc[span], off[span]
            opens = np.ones(len(span), bool)  # the piece opens a chunk
            opens[1:] = (pdoc[1:] != pdoc[:-1]) | (cidx[1:] != cidx[:-1])
            new_off = opens.copy()
            new_off[1:] |= poff[1:] != poff[:-1]
            firsts = np.flatnonzero(opens)
            flat = toks.flatten()
            bounds = np.append(tstart[span[firsts]] + p[firsts] * B, len(flat))
            hidx = head[span[firsts]]
            heading = text.take(numeric_array(np.maximum(hidx, 0), pa.int64(), valid=hidx >= 0))
            heading = pc.fill_null(heading, blank1)
            words, ends = flat.to_pylist(), bounds.tolist()
            chunk_text = string_array([" ".join(words[a:z]) for a, z in zip(ends, ends[1:])])
            empty = np.flatnonzero(n_span == 0)  # documents that get the fallback row
            zeros = np.zeros(len(empty), np.int64)
            blank = string_array([""] * len(empty))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0).take(numeric_array(np.concatenate([pdoc[firsts], empty]), pa.int64())),
                    numeric_array(np.concatenate([cidx[firsts], zeros]), pa.int32()),
                    pa.concat_arrays([heading, blank]),
                    pa.concat_arrays([chunk_text, blank]),
                    numeric_array(np.concatenate([_sums(ptok, firsts), zeros]), pa.int64()),
                    numeric_array(np.concatenate([_sums(new_off, firsts), zeros]), pa.int64()),
                ],
                names=["doc_id", "chunk_idx", "heading", "chunk_text", "n_tokens", "n_spans"],
            )

    return kernel


def chunk_spans(
    df,
    budget: int = DEFAULT_BUDGET,
    spans_col: str = "spans",
    tokenizer: str = "ws",
    route: str = "auto",
):
    """DataFrame(doc_id, spans, ...) -> DataFrame(doc_id, chunk_idx,
    heading, chunk_text, n_tokens, n_spans): one narrow mapInArrow stage
    (see _chunk_arrow), linear in each document's spans + tokens, so a
    pathological 10^5-span stored document is no straggler and no route
    splits documents by size. `route` selects nothing: "auto" and "hof"
    both run the kernel, and it is still accepted and validated only
    because perfbench/workloads.py passes route="hof".

    Ordering contract: a chunk's pieces follow span offsets, which the
    extraction kernels make unique per document (the dense span index,
    corpus.expected_spans; test_chunking.test_offsets_unique_per_doc)."""
    if route not in ("auto", "hof"):
        raise ValueError(f"unknown route {route!r}")
    _tokenizer(tokenizer)  # an unknown tokenizer fails here, not in a task
    schema = T.StructType(
        [
            df.schema["doc_id"],
            T.StructField("chunk_idx", T.IntegerType()),
            T.StructField("heading", T.StringType()),
            T.StructField("chunk_text", T.StringType()),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("n_spans", T.LongType()),
        ]
    )
    return df.select("doc_id", spans_col).mapInArrow(_chunk_arrow(budget, tokenizer), schema=schema)
