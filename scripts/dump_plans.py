"""Regenerate PLANS.md: formatted physical plans of the headline queries."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NAMES = [
    "extract_all_spans", "extract_binary_spans", "export_markdown", "chunks",
    "chunks_bpe", "region_revenue", "pricing_summary", "sim_topk_brute",
    "sim_ann_lsh", "sim_ann_ivf", "dedup_exact", "dedup_minhash",
    "dedup_embedding", "ts_fingerprint",
]


def main() -> None:
    import __spark_entry__ as e
    from docling_fast_server_spark.session import get_spark

    spark = get_spark("plans", cores=4)
    sf = "/root/testdata/sf0.001"
    out = [
        "# PLANS — physical plans of the headline queries (sf0.001, local[4])",
        "",
        "Generated by `python scripts/dump_plans.py`. What to look for:",
        "- extraction/export (row AND binary paths): **no Exchange** (single narrow",
        "  stage; r8 — extract_all and the export queries are ONE fused",
        "  generate+extract(+render) `MapInArrow` kernel, so the plan is",
        "  Scan -> MapInArrow [-> Generate]),",
        "- scans: `PushedFilters` + pruned `ReadSchema`,",
        "- dims (hash params, hyperplanes, query vectors): `BroadcastHashJoin`/`BroadcastNestedLoopJoin`,",
        "- chunking: **zero Exchange** (Scan -> fused MapInArrow -> chunking MapInArrow),",
        "- dedup_minhash: NO distinct-shingle dictionary stages — signatures are",
        "  narrow `array_min(transform(...))` projections; the only wide ops are",
        "  the band self-join and the candidate-verify joins,",
        "- ts_fingerprint: a single projection, zero Exchange, zero Window.",
        "- cc_round: ONE large+small-star cycle reads a `Scan ExistingRDD`",
        "  leaf (the previous round's truncated checkpoint — plan size is",
        "  CONSTANT in round number) through two partial-aggregating",
        "  groupBy(min)s and two joins; nothing else.",
        "",
    ]
    for n in NAMES:
        df = e.queries()[n](spark, sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {n}\n\n```\n{buf.getvalue().split(chr(10)+chr(10))[0]}\n```\n")

    # the connected-components per-round plan (not a registry query:
    # the registry is driver-capped at 50; see tests/test_components.py)
    from pyspark.sql import functions as F

    from docling_fast_server_spark.operators import components

    edges = spark.range(1000).select(
        F.col("id").alias("doc_a"), ((F.col("id") * 7919) % 1000).alias("doc_b")
    )
    cur = components._canonical(edges, "doc_a", "doc_b").localCheckpoint()
    cycle = components._small_star(components._large_star(cur))
    buf = io.StringIO()
    with redirect_stdout(buf):
        cycle.explain("formatted")
    out.append(
        "## cc_round (one large+small-star cycle over the truncated leaf)"
        f"\n\n```\n{buf.getvalue().split(chr(10)+chr(10))[0]}\n```\n"
    )
    components._ckpt_release(cur)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()
    print("PLANS.md written")


if __name__ == "__main__":
    main()
