"""Seeded batch benchmark for docling_fast_server_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_resume --seed 1 --seconds 8 --trace 0

Workloads (see workloads.py): ingest_resume, corpus_prep, and extract_scan
(the kernel alone; runnable by hand, not listed in BENCHMARK.json).
One run generates (or reuses) the seeded inputs, starts one local[4]
SparkSession, reads the input tables and runs the workload's untimed
warm-up passes (together: ``setup_s``), then timed passes one after
another until ``--seconds`` have passed and at least ``MIN_PASSES`` ran
(each rate is a median over them), checks every output against the
DuckDB oracle, and prints a table of metrics followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics from the
traced ones, the tracing overhead (traced against untraced docs_per_s)
and the span coverage; the spans are written to ``.perfbench/traces/``.
Everything the benchmark writes stays under ``.perfbench/`` in the
checkout (inputs are cached there, keyed by seed, size and generator
version).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

CORES = 4
DRIVER_MEM = "1g"  # inputs are a few MB; keeps the JVM small on a shared host
MIN_PASSES = 2

# cpu_ms_per_doc, not docs_per_s, is the bounded throughput metric: on a
# shared VM the wall time of a pass follows the CPU time the hypervisor
# steals, while the process tree's CPU time does not (see host.tree_cpu_s).
# docs_per_s is still printed by every run and reported under --trace 1.
E2E_UNITS = {"cpu_ms_per_doc": "ms/doc", "setup_s": "s", "peak_rss_mib": "MiB"}

LAYER_UNITS = {
    "docs_per_s": "docs/s",
    "session.start_s": "s",
    "dispatch.call_s": "s",
    "dispatch.task_cpu_s": "s",
    "dispatch.task_max_over_median": "ratio",
    "dispatch.python_boot_s": "s",
    "dispatch.python_init_s": "s",
    "dispatch.python_total_s": "s",
    "dispatch.arrow_bytes_sent": "bytes",
    "dispatch.arrow_bytes_received": "bytes",
    "dispatch.docs_default": "count",
    "dispatch.docs_limited": "count",
    "dispatch.docs_failed": "count",
    "dispatch.spans_out": "count",
    "pipeline.commit_call_s": "s",
    "pipeline.resume_call_s": "s",
    "pipeline.stages": "count",
    "pipeline.shuffle_write_bytes": "bytes",
    "pipeline.reextract_ratio": "ratio",
    "io.bytes_written_per_doc": "bytes/doc",
    "io.files_written": "count",
    "io.bytes_read": "bytes",
    "lineage.rows": "count",
    "exports.call_s": "s",
    "exports.task_cpu_s": "s",
    "exports.bytes_out": "bytes",
    "chunking.call_s": "s",
    "chunking.task_cpu_s": "s",
    "chunking.spill_bytes": "bytes",
    "chunking.chunks_out": "count",
    "dedup.call_s": "s",
    "dedup.stages": "count",
    "dedup.shuffle_write_bytes": "bytes",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.over_cap_buckets": "count",
    "dedup.suppressed_members": "count",
    "components.call_s": "s",
    "components.jobs": "count",
    "components.checkpoint_bytes": "bytes",
    "components.clusters": "count",
    "similarity.call_s": "s",
    "similarity.pairs_scored": "count",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.tasks": "count",
    "trace.overhead_frac": "fraction",
    "trace.coverage": "fraction",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, help="override the workload's document count (self-test)")
    p.add_argument("--corrupt", action="store_true", help="drop one output span before the check (self-test)")
    return p.parse_args(argv)


def _env(root: str, work: str) -> None:
    """Confine the session to the checkout: workers import the library
    from it, and every scratch and temp directory lives in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # a fixed, pre-touched heap: peak_rss_mib then moves with the Python
    # workers and the JVM's non-heap memory, not with when G1 grew the heap
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch'"
        " pyspark-shell"
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def _layer_metrics(wl, traced: list, counts: dict, n_docs: int, manifest: dict) -> dict:
    """Per-layer metrics: per traced pass sums over that layer's spans,
    then the median over passes; counts come from the checked outputs."""
    from spans import FILES_WRITTEN, OUT_ROWS, PY_BOOT, PY_INIT, PY_RECV, PY_SENT, PY_TOTAL, sql_sum

    def per_pass(fn):
        return _med([fn(p) for p in traced])

    def of(p, *layers):
        return [s for s in p["spans"] if s.layer in layers]

    def tot(p, key, *layers):
        return sum(s.spark[key] for s in of(p, *layers))

    def secs(p, *layers):
        return sum(s.seconds for s in of(p, *layers))

    # the dispatch kernel is its own call in extract_scan and runs inside
    # run_extraction in ingest_resume; either way its Python-boundary
    # metrics are the MapInArrow nodes of those spans
    pipe = ("pipeline_commit", "pipeline_resume")
    kernel = ("dispatch",) + pipe
    remaining = n_docs - manifest["n_slice"]
    m = {
        "dispatch.call_s": per_pass(lambda p: secs(p, *kernel)),
        "dispatch.task_cpu_s": per_pass(lambda p: tot(p, "cpu_s", *kernel)),
        "dispatch.task_max_over_median": per_pass(
            lambda p: max([s.spark["task_max_over_median"] for s in of(p, *kernel)], default=0.0)
        ),
        "dispatch.python_boot_s": per_pass(lambda p: sql_sum(of(p, *kernel), "MapInArrow", PY_BOOT) / 1e3),
        "dispatch.python_init_s": per_pass(lambda p: sql_sum(of(p, *kernel), "MapInArrow", PY_INIT) / 1e3),
        "dispatch.python_total_s": per_pass(lambda p: sql_sum(of(p, *kernel), "MapInArrow", PY_TOTAL) / 1e3),
        "dispatch.arrow_bytes_sent": per_pass(lambda p: sql_sum(of(p, *kernel), "MapInArrow", PY_SENT)),
        "dispatch.arrow_bytes_received": per_pass(lambda p: sql_sum(of(p, *kernel), "MapInArrow", PY_RECV)),
        "dispatch.docs_default": counts.get("docs_default", 0),
        "dispatch.docs_limited": counts.get("docs_limited", 0),
        "dispatch.docs_failed": counts.get("docs_failed", 0),
        "dispatch.spans_out": counts.get("spans_out", 0),
        "pipeline.commit_call_s": per_pass(lambda p: secs(p, "pipeline_commit")),
        "pipeline.resume_call_s": per_pass(lambda p: secs(p, "pipeline_resume")),
        "pipeline.stages": per_pass(lambda p: tot(p, "stages", *pipe)),
        "pipeline.shuffle_write_bytes": per_pass(lambda p: tot(p, "shuffle_write_bytes", *pipe)),
        "pipeline.reextract_ratio": per_pass(
            lambda p: sql_sum(of(p, "pipeline_resume"), "MapInArrow", OUT_ROWS) / remaining
        ) if wl.name == "ingest_resume" else 0.0,
        "io.bytes_written_per_doc": per_pass(lambda p: tot(p, "output_bytes", *pipe) / n_docs),
        "io.files_written": per_pass(lambda p: sql_sum(of(p, *pipe), "", FILES_WRITTEN)),
        "io.bytes_read": per_pass(lambda p: tot(p, "input_bytes", *pipe)),
        "lineage.rows": counts.get("lineage_rows", 0),
        "exports.call_s": per_pass(lambda p: secs(p, "exports")),
        "exports.task_cpu_s": per_pass(lambda p: tot(p, "cpu_s", "exports")),
        "exports.bytes_out": counts.get("exports_bytes_out", 0),
        "chunking.call_s": per_pass(lambda p: secs(p, "chunking")),
        "chunking.task_cpu_s": per_pass(lambda p: tot(p, "cpu_s", "chunking")),
        "chunking.spill_bytes": per_pass(lambda p: tot(p, "spill_disk_bytes", "chunking")),
        "chunking.chunks_out": counts.get("chunks_out", 0),
        "dedup.call_s": per_pass(lambda p: secs(p, "dedup")),
        "dedup.stages": per_pass(lambda p: tot(p, "stages", "dedup")),
        "dedup.shuffle_write_bytes": per_pass(lambda p: tot(p, "shuffle_write_bytes", "dedup")),
        "dedup.candidate_pairs": counts.get("candidate_pairs", 0),
        "dedup.verified_pairs": counts.get("verified_pairs", 0),
        "dedup.over_cap_buckets": per_pass(lambda p: p["result"].get("over_cap_buckets", 0)),
        "dedup.suppressed_members": per_pass(lambda p: p["result"].get("suppressed_members", 0)),
        "components.call_s": per_pass(lambda p: secs(p, "components")),
        "components.jobs": per_pass(lambda p: tot(p, "jobs", "components")),
        "components.checkpoint_bytes": per_pass(lambda p: tot(p, "fs_bytes_written", "components")),
        "components.clusters": counts.get("clusters", 0),
        "similarity.call_s": per_pass(lambda p: secs(p, "similarity")),
        "similarity.pairs_scored": per_pass(
            lambda p: sql_sum(of(p, "similarity"), "BroadcastNestedLoopJoin", OUT_ROWS)
        ),
        "spark.gc_s": per_pass(lambda p: sum(s.spark["gc_s"] for s in p["spans"])),
        "spark.spill_bytes": per_pass(lambda p: sum(s.spark["spill_disk_bytes"] for s in p["spans"])),
        "spark.tasks": per_pass(lambda p: sum(s.spark["tasks"] for s in p["spans"])),
        "trace.coverage": per_pass(
            lambda p: sum(s.seconds for s in p["spans"]) / max(p["wall_s"] - p["bookkeeping_s"], 1e-9)
        ),
    }
    return m


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import docling_fast_server_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test from {root}: {e}", file=sys.stderr)
        return 2

    import gen
    from host import HostMeter, RssSampler, tree_cpu_s
    from spans import Tracer
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} (have {sorted(WORKLOADS)})", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    n_docs = args.docs or wl.n_docs

    state = os.path.join(root, ".perfbench")
    run_id = f"{wl.name}-s{args.seed}-{os.getpid()}"
    work = os.path.join(state, "work", run_id)
    os.makedirs(work)
    _env(root, work)
    inputs, manifest = gen.cached_inputs(os.path.join(state, "cache"), args.seed, n_docs, wl.n_vecs)

    from docling_fast_server_spark.session import get_spark

    spark = None
    rss = RssSampler()
    try:
        with rss:
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{wl.name}", cores=CORES, warehouse=os.path.join(work, "warehouse"))
            session_s = time.perf_counter() - t0
            ctx = Ctx(spark, inputs, work, manifest, trace=bool(args.trace), corrupt=args.corrupt)
            t_prep = time.perf_counter()
            wl.prepare(ctx)
            prepare_s = time.perf_counter() - t_prep
            off = Tracer(spark, run_id, spark_metrics=False)
            t1 = time.perf_counter()
            for k in range(wl.warmup_passes):
                wl.run_pass(ctx, k, off)
            warmup_s = time.perf_counter() - t1
            setup_s = session_s + prepare_s + warmup_s

            meter = HostMeter()
            meter.start()
            passes, failed_calls, attempted_calls = [], 0, 0
            tracer = Tracer(spark, run_id, spark_metrics=True)
            t_start = time.perf_counter()
            k = wl.warmup_passes
            while True:
                elapsed = time.perf_counter() - t_start
                n_traced = sum(p["traced"] for p in passes)
                if elapsed >= args.seconds and len(passes) >= MIN_PASSES and (
                    not args.trace or n_traced >= 1
                ):
                    break
                traced = bool(args.trace) and (k - wl.warmup_passes) % 2 == 1  # alternate, for a fair overhead
                tr = tracer if traced else Tracer(spark, run_id, spark_metrics=False)
                attempted_calls += wl.calls_per_pass
                n_before, book_before = len(tr.spans), tr.bookkeeping_s
                cpu0 = tree_cpu_s()
                with tr.span(f"pass{k}") as ps:
                    try:
                        result = wl.run_pass(ctx, k, tr)
                    except Exception:
                        traceback.print_exc()
                        failed_calls += 1
                        result = None
                cpu_s = tree_cpu_s() - cpu0
                k += 1
                if result is None:
                    continue
                passes.append(
                    {
                        "traced": traced,
                        "wall_s": ps.seconds,
                        "cpu_s": cpu_s,
                        "bookkeeping_s": tr.bookkeeping_s - book_before,
                        "spans": [s for s in tr.spans[n_before:] if s.layer],
                        "result": result,
                    }
                )
            host = meter.stop()
        t_check = time.perf_counter()
        tally = wl.check(ctx)
        check_s = time.perf_counter() - t_check
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    if not passes:
        print("perfbench: every timed pass failed", file=sys.stderr)
        return 1

    untraced = [p for p in passes if not p["traced"]]
    dps = lambda ps: _med([n_docs / p["wall_s"] for p in ps])  # noqa: E731
    cpu_ms = 1e3 * _med([p["cpu_s"] for p in untraced]) / n_docs
    e2e = {"cpu_ms_per_doc": cpu_ms, "setup_s": setup_s, "peak_rss_mib": rss.peak_mib}
    attempted = attempted_calls + tally.checked
    failed = failed_calls + tally.failed
    resume = [p["result"]["resume_s"] for p in untraced if "resume_s" in p["result"]]

    print(f"workload {wl.name}  seed {args.seed}  docs {n_docs}  passes {len(passes)}"
          f" ({len(untraced)} untraced)  closed loop, 1 client, local[{CORES}]")
    print(f"inputs {json.dumps(manifest)}")
    print(f"host {json.dumps({k: round(v, 3) if isinstance(v, float) else v for k, v in host.items()})}"
          f"  driver_mem {DRIVER_MEM}  peak_rss_mib_by_process {rss.peak_parts}")
    print(f"setup: session {session_s:.3f} s + prepare {prepare_s:.3f} s"
          f" + {wl.warmup_passes} warm-up pass(es) {warmup_s:.3f} s"
          f" (untimed: check {check_s:.3f} s)")
    print("pass wall s: " + " ".join(f"{p['wall_s']:.3f}{'*' if p['traced'] else ''}" for p in passes))
    print("pass cpu s: " + " ".join(f"{p['cpu_s']:.2f}{'*' if p['traced'] else ''}" for p in passes))
    for name, v in e2e.items():
        print(f"  {name:<34} {v:>14.4f} {E2E_UNITS[name]}")
    print(f"  {'docs_per_s':<34} {dps(untraced):>14.4f} docs/s")
    if resume:
        print(f"  {'resume_s':<34} {_med(resume):>14.4f} s")
    print(f"  {'failed_frac':<34} {failed / attempted:>14.6f} fraction ({failed}/{attempted})")
    print(f"check {json.dumps(tally.detail)}")

    if args.trace:
        traced = [p for p in passes if p["traced"]]
        layers = _layer_metrics(wl, traced, tally.counts, n_docs, manifest)
        layers["session.start_s"] = session_s
        layers["docs_per_s"] = dps(untraced)
        layers["trace.overhead_frac"] = 1.0 - dps(traced) / dps(untraced)
        print(f"traced passes {len(traced)}: docs_per_s {dps(traced):.4f} traced vs"
              f" {dps(untraced):.4f} untraced (tracing overhead"
              f" {layers['trace.overhead_frac']:.4f}); span coverage {layers['trace.coverage']:.4f}")
        for name, unit in LAYER_UNITS.items():
            print(f"  {name:<34} {layers[name]:>16.4f} {unit}")
        traces = os.path.join(state, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(
            os.path.join(traces, f"{run_id}.json"),
            {"workload": wl.name, "seed": args.seed, "inputs": manifest, "host": host,
             "setup": {"session_s": session_s, "prepare_s": prepare_s, "warmup_s": warmup_s},
             "layers": layers},
        )
        metrics = {n: {"value": layers[n], "unit": u} for n, u in LAYER_UNITS.items()}
    else:
        metrics = {n: {"value": v, "unit": E2E_UNITS[n]} for n, v in e2e.items()}

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
