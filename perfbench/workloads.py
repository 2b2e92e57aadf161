"""The benchmark workloads.

Each runs as one closed-loop client: one driver, jobs issued one after
another, the next only after the previous returned. A workload has

- ``prepare``: untimed work after the session starts (scan layout,
  input frames, the checkpoint directory);
- ``run_pass``: one timed pass, a span around every public call it makes;
- ``check``: untimed, writes each output once more and compares it with
  the DuckDB oracle (``check.py``).
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass


import check

NOOP = "noop"


@dataclass
class Ctx:
    spark: object
    inputs: str  # generated input tables
    work: str  # per-run scratch, removed at the end
    manifest: dict
    trace: bool = False
    corrupt: bool = False


def _noop(df) -> None:
    df.write.format(NOOP).mode("overwrite").save()


def _parquet(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _one_split_per_file(spark, table_dir: str) -> None:
    """One scan split per raw-corpus file (the pre-spread ingest layout):
    zero open cost and an average-file-sized split cap, as bench.py does."""
    files = glob.glob(os.path.join(table_dir, "*.parquet"))
    avg = sum(os.path.getsize(f) for f in files) // max(len(files), 1)
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(max(avg, 1)))


class Workload:
    name = ""
    n_docs = 0
    n_vecs = 2000
    calls_per_pass = 1
    # each pass runs tens of short Spark jobs, and the JIT keeps compiling
    # through the first passes; two untimed passes take the steepest part
    # of that off the timing
    warmup_passes = 2

    def prepare(self, ctx: Ctx) -> None:
        _one_split_per_file(ctx.spark, os.path.join(ctx.inputs, "raw"))

    def run_pass(self, ctx: Ctx, k: int, tr) -> dict:
        raise NotImplementedError

    def check(self, ctx: Ctx) -> check.Tally:
        raise NotImplementedError


class ExtractScan(Workload):
    """``operators.dispatch.extract_auto`` over the pre-materialized raw
    corpus to the noop sink: no shuffle, no write."""

    name = "extract_scan"
    n_docs = 1500

    def prepare(self, ctx: Ctx) -> None:
        super().prepare(ctx)
        self.raw = ctx.spark.read.parquet(os.path.join(ctx.inputs, "raw"))

    def run_pass(self, ctx: Ctx, k: int, tr) -> dict:
        from docling_fast_server_spark.operators.dispatch import extract_auto

        with tr.span("dispatch.extract_auto", "dispatch"):
            _noop(extract_auto(self.raw))
        return {}

    def check(self, ctx: Ctx) -> check.Tally:
        """The noop sink keeps nothing, so the check extracts once more
        into parquet and compares that."""
        from docling_fast_server_spark.operators.dispatch import extract_auto

        out = os.path.join(ctx.work, "extracted")
        _parquet(extract_auto(self.raw), out)
        tally = check.Tally()
        con = check.connect(ctx.inputs)
        check.check_spans(con, tally, f"{out}/*.parquet", ctx.corrupt)
        con.close()
        return tally


class IngestResume(Workload):
    """``plans.pipeline.run_extraction`` commits the seeded ~50% slice into
    a fresh output + lineage table, then a second call resubmits the full
    batch, skips what is committed and commits the rest."""

    name = "ingest_resume"
    n_docs = 1500
    calls_per_pass = 2
    warmup_passes = 3  # its passes are short; CPU per pass still falls after two

    def prepare(self, ctx: Ctx) -> None:
        super().prepare(ctx)
        self.raw = ctx.spark.read.parquet(os.path.join(ctx.inputs, "raw"))
        self.raw_slice = ctx.spark.read.parquet(os.path.join(ctx.inputs, "raw_slice"))
        self.last = None

    def run_pass(self, ctx: Ctx, k: int, tr) -> dict:
        from docling_fast_server_spark.plans.pipeline import run_extraction

        base = os.path.join(ctx.work, f"ingest{k}")
        out, lin = f"{base}/out", f"{base}/lineage"
        os.makedirs(base)
        with tr.span("pipeline.run_extraction(commit)", "pipeline_commit") as s1:
            run_extraction(ctx.spark, self.raw_slice, out, lin, run_id=f"commit{k}")
        with tr.span("pipeline.run_extraction(resume)", "pipeline_resume") as s2:
            run_extraction(ctx.spark, self.raw, out, lin, run_id=f"resume{k}")
        if self.last:  # keep only the newest pass's tables, for the check
            shutil.rmtree(self.last, ignore_errors=True)
        self.last = base
        return {"commit_s": s1.seconds, "resume_s": s2.seconds, "out": out, "lineage": lin}

    def check(self, ctx: Ctx) -> check.Tally:
        tally = check.Tally()
        con = check.connect(ctx.inputs)
        check.check_spans(con, tally, f"{self.last}/out/*.parquet", ctx.corrupt)
        check.check_lineage(con, tally, f"{self.last}/lineage/*.parquet")
        tally.counts["resume_docs"] = con.execute(
            f"SELECT sum(doc_count) FROM read_parquet('{self.last}/lineage/*.parquet')"
            " WHERE run_id LIKE 'resume%'"
        ).fetchone()[0]
        con.close()
        return tally


class CorpusPrep(Workload):
    """The prep job over a generated extracted-span table (no extraction
    kernel runs), each stage to a parquet sink: exports, chunks, minhash pairs, connected
    components over those pairs, and the registry's brute-force top-k over
    the seeded embeddings table."""

    name = "corpus_prep"
    n_docs = 400
    calls_per_pass = 6

    def prepare(self, ctx: Ctx) -> None:
        from docling_fast_server_spark.operators.components import ensure_checkpoint_dir

        spark = ctx.spark
        _one_split_per_file(spark, os.path.join(ctx.inputs, "spans"))
        ensure_checkpoint_dir(spark, os.path.join(ctx.work, "checkpoints"))
        self.spans = spark.read.parquet(os.path.join(ctx.inputs, "spans"))
        self.corpus = spark.read.parquet(os.path.join(ctx.inputs, "corpus")).select("doc_id", "text")
        self.out = os.path.join(ctx.work, "out")

    def run_pass(self, ctx: Ctx, k: int, tr) -> dict:
        from docling_fast_server_spark.operators import dedup
        from docling_fast_server_spark.operators.chunking import chunk_spans
        from docling_fast_server_spark.operators.components import connected_components
        from docling_fast_server_spark.operators.exports import with_exports
        from docling_fast_server_spark.operators.similarity import q_sim_topk_brute
        from docling_fast_server_spark.queries import CHUNK_BUDGET

        spark, out = ctx.spark, self.out
        with tr.span("exports.with_exports", "exports"):
            _parquet(
                with_exports(self.spans).select("doc_id", "markdown", "html", "doctags", "doc_json"),
                f"{out}/exports",
            )
        with tr.span("chunking.chunk_spans", "chunking"):
            _parquet(chunk_spans(self.spans, budget=CHUNK_BUDGET, route="hof"), f"{out}/chunks")
        with tr.span("dedup.minhash_pairs_with_diag", "dedup"):
            pairs, trip = dedup.minhash_pairs_with_diag(self.corpus)
            _parquet(pairs, f"{out}/pairs")
            trip_rows = trip.collect()
        with tr.span("components.connected_components", "components"):
            comp = connected_components(spark.read.parquet(f"{out}/pairs"), checkpoint_interval=1)
            _parquet(comp, f"{out}/components")
        with tr.span("dedup.clear_caches", "dedup"):
            dedup.clear_caches(spark)
        with tr.span("similarity.sim_topk_brute", "similarity"):
            _parquet(q_sim_topk_brute(spark, ctx.inputs), f"{out}/topk")
        return {
            "over_cap_buckets": sum(r["over_cap_buckets"] for r in trip_rows),
            "suppressed_members": sum(r["suppressed_members"] for r in trip_rows),
        }

    def check(self, ctx: Ctx) -> check.Tally:
        """Checks the newest pass's outputs in place: every sink of the
        prep job is a parquet table, so nothing is recomputed."""
        from docling_fast_server_spark.operators import dedup

        tally = check.Tally()
        if ctx.trace:
            tally.counts["candidate_pairs"] = dedup.minhash_candidate_pairs(self.corpus).count()
            dedup.clear_caches(ctx.spark)
        out = self.out
        con = check.connect(ctx.inputs)
        check.check_exports(con, tally, f"{out}/exports/*.parquet")
        check.check_chunks(con, tally, f"{out}/chunks/*.parquet")
        check.check_dedup(con, tally, f"{out}/pairs/*.parquet", f"{out}/components/*.parquet")
        check.check_topk(con, tally, f"{out}/topk/*.parquet")
        con.close()
        return tally


WORKLOADS = {w.name: w for w in (ExtractScan, IngestResume, CorpusPrep)}
