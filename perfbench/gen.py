"""Seeded input generator for the batch benchmark.

Every table the benchmark hands to the program is made here from
``--seed`` alone, with pyarrow and no Spark session, so set-up time never
includes input generation. The same (seed, size, GEN_VERSION) always gives
byte-identical tables, and they are cached on disk under that key.

What the seed picks:

- the doc_id offset (ids stay below 10**6, because ``model.doc_id_str``
  pads to six digits) and which ids are odd multiples of 17, so that about
  ``DEGRADED_SHARE`` of the documents take the degraded (limited) tier;
- each document's size band (x1, x5, x20 base length, in exact
  proportions so every seed carries the same amount of text to within a
  few percent) while staying under ``oracle.MAX_PARAS`` paragraphs;
- every word, drawn from a seeded vocabulary, so no two documents repeat
  each other verbatim and near-duplicates come only from the injection
  below;
- the ~50% slice committed before the resume, and the ~10% near and ~4%
  exact duplicates injected for the dedup stage;
- the embedding vectors for the similarity stage.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2

DOC_ID_LIMIT = 10**6
BASE_WORDS = (40, 80)  # words in a x1 document (4-8 paragraphs)
BANDS = ((1, 0.80), (5, 0.15), (20, 0.05))  # (size multiple, share of docs)
DEGRADED_SHARE = 0.06
VOCAB = 4000
SLICE_SHARE = 0.5
NEAR_SHARE = 0.10
EXACT_SHARE = 0.04
EMB_DIM = 64  # operators.similarity.DIM
FILES = 8  # files per corpus table: 2 scan splits per core at local[4]


def _ids(rng: random.Random, n: int) -> list[int]:
    """``n`` distinct sorted doc ids in a seeded window below 10**6, with
    DEGRADED_SHARE of them odd multiples of 17 (the degraded pdf ids)."""
    span = 4 * n
    lo = rng.randrange(1, DOC_ID_LIMIT - span)
    window = range(lo, lo + span)
    degraded = [i for i in window if i % 34 == 17]
    others = [i for i in window if i % 34 != 17]
    n_deg = round(DEGRADED_SHARE * n)
    return sorted(rng.sample(degraded, n_deg) + rng.sample(others, n - n_deg))


def _texts(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted(
        {"".join(rng.choices(letters, k=rng.randint(3, 9))) for _ in range(VOCAB)}
    )
    bands = [m for m, share in BANDS for _ in range(round(share * n))]
    bands = (bands + [1] * n)[:n]
    rng.shuffle(bands)
    return [
        " ".join(rng.choices(vocab, k=rng.randint(*BASE_WORDS) * m)) for m in bands
    ]


def _span_list(kinds, texts, refs, offsets, cum) -> pa.ListArray:
    """A list<struct<kind, text, media_ref, offset>> column (model.SPANS_TYPE)."""
    vals = pa.StructArray.from_arrays(
        [
            pa.array(kinds, pa.string()),
            pa.array(texts, pa.string()),
            pa.array(refs, pa.string()),
            pa.array(offsets, pa.int32()),
        ],
        fields=[
            pa.field("kind", pa.string(), False),
            pa.field("text", pa.string()),
            pa.field("media_ref", pa.string()),
            pa.field("offset", pa.int32(), False),
        ],
    )
    return pa.ListArray.from_arrays(pa.array(cum, pa.int32()), vals)


def _spans_column(per_doc) -> pa.ListArray:
    kinds, texts, refs, offs, cum = [], [], [], [], [0]
    for spans in per_doc:
        for s in spans:
            kinds.append(s["kind"])
            texts.append(s["text"])
            refs.append(s["media_ref"])
            offs.append(s["offset"])
        cum.append(len(kinds))
    return _span_list(kinds, texts, refs, offs, cum)


def _raw_table(ids: list[int], texts: list[str]) -> pa.Table:
    """The pre-materialized raw corpus (doc_id, spans, n_chars), rendered
    by the library's deterministic corpus renderer."""
    from docling_fast_server_spark.corpus import render_raw_spans
    from docling_fast_server_spark.model import doc_id_str

    return pa.table(
        {
            "doc_id": pa.array([doc_id_str(i) for i in ids], pa.string()),
            "spans": _spans_column(render_raw_spans(d, t) for d, t in zip(ids, texts)),
            "n_chars": pa.array([len(t) for t in texts], pa.int32()),
        }
    )


def _extracted_table(ids: list[int], texts: list[str]) -> tuple[pa.Table, list[str]]:
    """The extracted span table corpus_prep reads, from the library's
    golden per-document spec (``corpus.expected_spans``), so that workload
    runs no extraction kernel; and each document's span text joined by
    spaces (the text its dedup stage hashes)."""
    from docling_fast_server_spark.corpus import (
        PARA_WORDS, PIC_MOD, TBL_MOD, TBL_REM, expected_spans, is_degraded,
    )
    from docling_fast_server_spark.model import doc_id_str

    spans = [expected_spans(d, t) for d, t in zip(ids, texts)]
    methods = []
    for d, t in zip(ids, texts):
        n_paras = -(-len(t.split(" ")) // PARA_WORDS)
        has_media = any((d + i) % PIC_MOD == 0 or (d + i) % TBL_MOD == TBL_REM for i in range(n_paras))
        methods.append("limited" if is_degraded(d) and has_media else "default")
    table = pa.table(
        {
            "doc_id": pa.array([doc_id_str(i) for i in ids], pa.string()),
            "spans": _spans_column(spans),
            "conversion_method": pa.array(methods, pa.string()),
            "error": pa.nulls(len(ids), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int32()),
        }
    )
    joined = [" ".join(s["text"] for s in doc if s["text"] is not None) for doc in spans]
    return table, joined


def _write_spread(table: pa.Table, path: str, files: int = FILES) -> None:
    """Write ``table`` as ``files`` parquet files of equal weight: docs are
    dealt largest-first round-robin, so each file (one scan split) carries
    the same share of the size bands, heaviest documents first."""
    os.makedirs(path)
    order = np.argsort(-np.asarray(table.column("n_chars")), kind="stable")
    for f in range(files):
        part = table.take(pa.array(order[f::files]))
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{f:03d}.parquet"))


def generate(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    """Write every input table for one (seed, size) under ``out_dir``.
    Returns the manifest (also written as ``manifest.json``)."""
    rng = random.Random(seed)
    ids = _ids(rng, n_docs)
    texts = _texts(rng, n_docs)

    os.makedirs(out_dir)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * n_docs, pa.string()),
                "source": pa.array(["perfbench"] * n_docs, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )

    raw = _raw_table(ids, texts)
    _write_spread(raw, os.path.join(out_dir, "raw"))
    in_slice = sorted(rng.sample(range(n_docs), round(SLICE_SHARE * n_docs)))
    _write_spread(raw.take(pa.array(in_slice)), os.path.join(out_dir, "raw_slice"))

    # the corpus_prep inputs: the extracted span table, and the dedup
    # corpus with injected near ('dup-', a three-word tail) and exact
    # ('xct-') copies of seeded documents -- the pipeline_e2e pattern
    extracted, joined = _extracted_table(ids, texts)
    _write_spread(extracted, os.path.join(out_dir, "spans"))
    near = rng.sample(range(n_docs), round(NEAR_SHARE * n_docs))
    exact = rng.sample(range(n_docs), round(EXACT_SHARE * n_docs))
    doc_ids = raw.column("doc_id").to_pylist()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([doc_ids[i] for i in near + exact], pa.string()),
                "kind": pa.array(["near"] * len(near) + ["exact"] * len(exact), pa.string()),
            }
        ),
        os.path.join(out_dir, "dups.parquet"),
    )
    corpus_ids = (
        doc_ids
        + ["dup-" + doc_ids[i][4:] for i in near]
        + ["xct-" + doc_ids[i][4:] for i in exact]
    )
    corpus_texts = joined + [joined[i] + " xtra token end" for i in near] + [joined[i] for i in exact]
    _write_spread(
        pa.table(
            {
                "doc_id": pa.array(corpus_ids, pa.string()),
                "text": pa.array(corpus_texts, pa.string()),
                "n_chars": pa.array([len(t) for t in corpus_texts], pa.int32()),
            }
        ),
        os.path.join(out_dir, "corpus"),
    )

    nrng = np.random.default_rng(seed)
    vec_lo = int(nrng.integers(0, 10**6))
    emb = nrng.standard_normal((n_vecs, EMB_DIM), dtype=np.float32)
    emb_dir = os.path.join(out_dir, "embeddings.parquet")
    os.makedirs(emb_dir)
    for f, rows in enumerate(np.array_split(np.arange(n_vecs), 4)):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(vec_lo + rows, pa.int64()),
                    "embedding": pa.array(list(emb[rows]), pa.list_(pa.float32())),
                    "label": pa.array(nrng.integers(0, 10, len(rows)), pa.int32()),
                }
            ),
            os.path.join(emb_dir, f"part-{f:03d}.parquet"),
        )

    manifest = {
        "gen_version": GEN_VERSION,
        "seed": seed,
        "n_docs": n_docs,
        "n_vecs": n_vecs,
        "n_slice": len(in_slice),
        "n_near": len(near),
        "n_exact": len(exact),
        "n_words": sum(t.count(" ") + 1 for t in texts),
        "n_raw_spans": len(raw.column("spans").combine_chunks().values),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def cached_inputs(cache_root: str, seed: int, n_docs: int, n_vecs: int) -> tuple[str, dict]:
    """The input directory for (seed, size), generated on first use.
    Generation lands in a temp dir renamed into place, so an interrupted
    run never leaves a half-written entry."""
    key = f"v{GEN_VERSION}-d{n_docs}-v{n_vecs}-s{seed}"
    path = os.path.join(cache_root, key)
    manifest = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest):
        os.makedirs(cache_root, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp, seed, n_docs, n_vecs)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(manifest) as f:
        return path, json.load(f)
